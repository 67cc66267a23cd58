package graft
/** Prints (or writes) `.explain("formatted")` for a set of declared
  * queries. `GRAFT_AUDIT` = comma-separated query names;
  * `GRAFT_AUDIT_DIR` = testdata dir (default sf0.001 — plan SHAPE is
  * SF-independent except where AQE stats flip a join strategy, so audit
  * at the SF you care about); `GRAFT_AUDIT_OUT` = a directory to write
  * one `<query><GRAFT_AUDIT_SUFFIX>.txt` per query instead of stdout
  * (how the `plans/rNN/` before/after artifacts are produced). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(
      master = s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("GRAFT_AUDIT_DIR", "/root/testdata/sf0.001")
    val out = sys.env.get("GRAFT_AUDIT_OUT")
    val suffix = sys.env.getOrElse("GRAFT_AUDIT_SUFFIX", "")
    out.foreach(d => new java.io.File(d).mkdirs())
    for (q <- (if (sys.env.contains("GRAFT_AUDIT")) sys.env("GRAFT_AUDIT").split(",").toSeq else Seq("mv_rewrite", "a22_quota", "dq_bucket_diff", "a23_theta_overlap", "td_retrieval_eval"))) {
      val plan: String =
        try {
          import org.apache.spark.sql.functions._
          // pseudo-query: the graph loops' shared edge-doubling prelude
          // over the g1/g9 edge derivation (join+distinct over lineitem)
          // — the iterative gates' FINAL frames are checkpoint scans, so
          // the optimization-relevant plans live here
          def prelude = graft.operators.Graph.doubled(
              spark.read.parquet(s"$dir/orders.parquet")
                .join(spark.read.parquet(s"$dir/lineitem.parquet"),
                  col("o_orderkey") === col("l_orderkey"))
                .select(concat(lit("c"), col("o_custkey")).as("src"),
                  concat(lit("s"), col("l_suppkey")).as("dst"))
                .distinct())
            .repartition(col("src"))
          val df =
            if (q == "graph_prelude") prelude
            else if (q == "g9_ppr_round") {
              // one PPR round body over the prelude: round 1 state
              // (ranks = seeds at 1.0), where the r17 full_outer→union
              // fold lives
              import spark.implicits._
              val dirE = prelude
              val deg = dirE.groupBy(col("src"))
                .agg(count(lit(1)).as("deg"))
              val withDeg = dirE.join(deg, "src")
              val seed = Seq("c1", "c2", "c3").toDF("v")
              val ranks = seed.withColumn("r", lit(1.0))
              graft.operators.Graph.pprRound(withDeg, ranks,
                seed.select(col("v"), lit(0.0).as("m"),
                  lit(1.0).as("_s")), 0.85)
            } else SparkEntry.queries(q)(spark, dir)
          // same rendering as df.explain("formatted"), captured
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"failed: $e" }
      out match {
        case Some(d) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$d/$q$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"wrote $d/$q$suffix.txt")
        case None =>
          println(s"===== $q =====")
          println(plan)
      }
    }
    spark.stop()
  }
}
