package graft.tools

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession, graftshim}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}
import graft.operators.{Dedup, Graph}

/** One inspection tool over the declared gates: build a gate, then
  * print its plan, count its join strategies, or time it.
  *
  * {{{
  * sbt "runMain graft.tools.Inspect plans  --sf <dir> [--out <dir>] [--conf k=v]... [gate ...]"
  * sbt "runMain graft.tools.Inspect census --sf <dir> [--conf k=v]... [gate ...]"
  * sbt "runMain graft.tools.Inspect time   --sf <dir> [--scale K] [--reps N] [--out <path>] [--conf k=v]... [gate ...]"
  * }}}
  *
  * Gate names are positional, alone or comma-separated; none means every
  * declared gate. `--conf` is applied with `spark.conf.set` after the
  * session is built, so `census --conf
  * spark.sql.join.preferSortMergeJoin=true` shows which gates' plans flip
  * against the session defaults. `SPARK_GRAFT_CPUS` sets the local core
  * count (default 4), as in `Bench`.
  *
  * Building a gate's DataFrame runs any eager work in its constructor
  * (sink writes, iterative loops), so `plans` and `census` are meant for
  * the smallest SF: plan shape is SF-independent except where size
  * estimates flip a join strategy.
  */
object Inspect {
  type Gate = (SparkSession, String) => DataFrame

  final case class Args(cmd: String, sf: String = "",
                        gates: Seq[String] = Nil, out: Option[String] = None,
                        conf: Seq[(String, String)] = Nil,
                        scale: Int = 10, reps: Int = 2)

  private val usage =
    "usage: Inspect plans|census|time --sf <dir> [--out <path>] " +
      "[--conf k=v]... [--scale K] [--reps N] [gate ...]"

  /** The graph loops' shared edge-doubling prelude over the g1/g9 edge
    * derivation. The iterative gates' final frames are checkpoint scans,
    * so their loop bodies are visible only through these pseudo-gates. */
  private def graphPrelude(spark: SparkSession, dir: String): DataFrame =
    Graph.doubled(
        spark.read.parquet(s"$dir/orders.parquet")
          .join(spark.read.parquet(s"$dir/lineitem.parquet"),
            col("o_orderkey") === col("l_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          .distinct())
      .repartition(col("src"))

  /** One PPR round body over the prelude, at round-1 state (ranks =
    * seeds at 1.0). */
  private def pprRound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = graphPrelude(spark, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val seed = Seq("c1", "c2", "c3").toDF("v")
    Graph.pprRound(edges.join(deg, "src"), seed.withColumn("r", lit(1.0)),
      seed.select(col("v"), lit(0.0).as("m"), lit(1.0).as("_s")), 0.85)
  }

  private val pseudoGates: Map[String, Gate] = Map(
    "graph_prelude" -> graphPrelude, "g9_ppr_round" -> pprRound)

  private def gate(name: String): Gate =
    pseudoGates.getOrElse(name, SparkEntry.queries(name))

  def parse(args: List[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--sf" :: v :: t => go(a.copy(sf = v), t)
      case "--out" :: v :: t if a.cmd != "census" => go(a.copy(out = Some(v)), t)
      case "--conf" :: kv :: t => kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => go(a.copy(conf = a.conf :+ (k -> v)), t)
        case _ => throw new IllegalArgumentException(s"--conf $kv: want k=v\n$usage")
      }
      case "--scale" :: v :: t if a.cmd == "time" => go(a.copy(scale = v.toInt), t)
      case "--reps" :: v :: t if a.cmd == "time" => go(a.copy(reps = v.toInt), t)
      case opt :: _ if opt.startsWith("--") =>
        throw new IllegalArgumentException(s"bad option $opt\n$usage")
      case names :: t => go(a.copy(gates = a.gates ++ names.split(',')), t)
    }
    val a = args match {
      case cmd :: rest if Set("plans", "census", "time")(cmd) => go(Args(cmd), rest)
      case _ => throw new IllegalArgumentException(usage)
    }
    require(a.sf.nonEmpty, s"--sf is required\n$usage")
    require(a.scale >= 1 && a.reps >= 1, "--scale and --reps must be >= 1")
    val unknown = a.gates.filterNot(n =>
      pseudoGates.contains(n) || SparkEntry.queries.contains(n))
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(",")}")
    a
  }

  /** `explain("formatted")` per gate, to stdout or one `<gate>.txt` per
    * gate under `out`. A gate that fails to build gets its error as its
    * plan text. */
  def plans(spark: SparkSession, dir: String, names: Seq[String],
            out: Option[String]): Unit = {
    out.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    names.foreach { name =>
      val plan =
        try gate(name)(spark, dir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"failed: $e" }
      out match {
        case Some(d) =>
          val f = java.nio.file.Paths.get(d, s"$name.txt")
          java.nio.file.Files.write(f, plan.getBytes("UTF-8"))
          println(s"wrote $f")
        case None =>
          println(s"===== $name =====")
          println(plan)
      }
    }
  }

  /** `CENSUS name smj=N shj=N bhj=N bnl=N exch=N`: join strategies and
    * exchanges in the gate's initial (pre-AQE) physical plan, or
    * `CENSUS name FAILED <exception>`. */
  def censusLine(spark: SparkSession, dir: String, name: String): String = {
    val line = try {
      spark.catalog.clearCache()
      val p = gate(name)(spark, dir).queryExecution.executedPlan.toString()
      def c(pat: String) = pat.r.findAllIn(p).length
      s"$name smj=${c("SortMergeJoin")} shj=${c("ShuffledHashJoin")} " +
        s"bhj=${c("BroadcastHashJoin")} bnl=${c("BroadcastNestedLoopJoin")} " +
        s"exch=${c("Exchange")}"
    } catch { case e: Throwable =>
      s"$name FAILED ${e.getClass.getSimpleName}"
    }
    s"CENSUS $line"
  }

  /** Stages a `copies`× input under a temp dir: each of orders, lineitem,
    * documents and embeddings repeated with its key columns offset into
    * disjoint ranges (`copies` disconnected copies of the graph, `copies`×
    * the corpus and vector set). Gates that read any other table fail
    * against it. */
  private def stage(spark: SparkSession, dir: String, copies: Int): String = {
    val staged = java.nio.file.Files.createTempDirectory("graft-inspect").toString
    def enlarge(table: String, keyCols: Seq[String]): Unit = {
      val src = spark.read.parquet(s"$dir/$table.parquet")
      (0 until copies).map { i =>
        keyCols.foldLeft(src)((d, k) => d.withColumn(k, col(k) + lit(i * 1000000000L)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$staged/$table.parquet")
    }
    enlarge("orders", Seq("o_orderkey", "o_custkey"))
    enlarge("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    enlarge("documents", Seq("doc_id"))
    enlarge("embeddings", Seq("vec_id"))
    staged
  }

  /** One rep of a gate: seconds, Janino compiles (`CodegenMetrics`),
    * Spark jobs and executed (not skipped) stages. */
  final case class Rep(sec: Double, compiles: Long, jobs: Long, stages: Long)

  /** Counts the jobs and executed stages of one job group. */
  private final class GroupCounter(group: String) extends SparkListener {
    private val stageIds = mutable.Set[Int]()
    private var jobs, stages = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs += 1
        stageIds ++= e.stageIds
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (stageIds.remove(e.stageInfo.stageId)) stages += 1 }
    def counts: (Long, Long) = synchronized((jobs, stages))
  }

  /** Runs `body` under job group `group`; returns its result with the
    * Spark jobs and executed (not skipped) stages it ran. */
  private[graft] def withJobCount[T](sc: SparkContext, group: String)(
      body: => T): (T, Long, Long) = {
    val counter = new GroupCounter(group)
    sc.addSparkListener(counter)
    sc.setJobGroup(group, group)
    try {
      val out = body
      graftshim.awaitListeners(sc)
      val (jobs, stages) = counter.counts
      (out, jobs, stages)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  /** Min-of-`reps` seconds per gate through the noop sink, which
    * produces every output row and column, with the work counters of
    * that fastest rep. Compiles, jobs and stages do not move with host
    * load; compiles read 0 on a warm rep while Spark's class cache holds
    * the gate's generated code. Jobs and stages include the gate's
    * build (its eager work, such as iterative loops) and the write: each
    * rep runs under its own job group. A gate that throws in any rep is
    * listed in `failed` and never timed. */
  def timeGates(spark: SparkSession, dir: String, gates: Seq[(String, Gate)],
                reps: Int): (Seq[(String, Rep)], Seq[String]) = {
    val sc = spark.sparkContext
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val results = gates.map { case (name, fn) =>
      val runs = (1 to reps).iterator.map { r =>
        spark.catalog.clearCache()
        System.gc()
        val c0 = compiles
        try {
          val (t, jobs, stages) = withJobCount(sc, s"inspect-$name-$r") {
            val t0 = System.nanoTime()
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val n = compiles - c0
          System.err.println(
            f"# $name rep$r $t%.2f compiles=$n jobs=$jobs stages=$stages")
          Some(Rep(t, n, jobs, stages))
        } catch { case e: Throwable =>
          System.err.println(s"# $name FAILED $e")
          None
        }
      }.takeWhile(_.isDefined).flatten.toSeq
      name -> (if (runs.size == reps) Some(runs.minBy(_.sec)) else None)
    }
    (results.collect { case (n, Some(rep)) => n -> rep },
      results.collect { case (n, None) => n })
  }

  def main(args: Array[String]): Unit = {
    val a =
      try parse(args.toList)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val names = if (a.gates.nonEmpty) a.gates else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(
      master = s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    a.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    a.cmd match {
      case "plans" => plans(spark, a.sf, names, a.out)
      case "census" => names.foreach(n => println(censusLine(spark, a.sf, n)))
      case "time" =>
        val staged = stage(spark, a.sf, a.scale)
        println(s"# staged ${a.scale}x tables under $staged")
        val calib = Bench.calibrate(spark)
        val (timed, failed) =
          timeGates(spark, staged, names.map(n => n -> gate(n)), a.reps)
        def r2(v: Double) = math.rint(v * 100) / 100
        def obj(f: Rep => Any) =
          timed.map { case (n, rep) => s""""$n":${f(rep)}""" }.mkString("{", ",", "}")
        val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
        val line = s"""{"copies":${a.scale},"cpus":$cpus,""" +
          s""""calib_sec":${r2(calib)},"reps":${a.reps},""" +
          s""""timed_action":"noop","gates":${obj(r => r2(r.sec))},""" +
          s""""compiles":${obj(_.compiles)},"jobs":${obj(_.jobs)},""" +
          s""""stages":${obj(_.stages)},"failed":$failedJson,"src":"${a.sf}"}"""
        val out = a.out.getOrElse(s"SCALE${a.scale}X_c$cpus.json")
        java.nio.file.Files.write(java.nio.file.Paths.get(out), (line + "\n").getBytes("UTF-8"))
        println(line)
        org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(staged), true)
    }
    Dedup.releaseCaches()
    spark.stop()
  }
}
