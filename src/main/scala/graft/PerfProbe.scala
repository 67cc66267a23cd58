package graft

/** Dev harness: time a subset of SparkEntry queries repeatedly.
  *
  *   sbt "runMain graft.PerfProbe <sfDir> <reps> <query> [<query> ...]"
  *
  * Prints per-run seconds so warm-vs-cold and variance are visible
  * (Bench times each query exactly once, in Map order).
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = args.drop(2).toSeq match {
      case Nil => Seq("k1_sink_dedup", "dedup_clusters", "dedup_simhash")
      case qs => qs
    }
    val spark = GraftSession.get()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"#### $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
