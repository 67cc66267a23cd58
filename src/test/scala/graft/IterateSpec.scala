package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Hierarchy, Iterate}

/** The iteration driver: what each iterative operator leaves behind, and
  * the convergence value that rides on the round's own action. */
class IterateSpec extends GraftSpec {
  import spark.implicits._

  // triangle {a,b,c} + chain c-d-e
  private def edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
    ("d", "e")).toDF("src", "dst")

  /** Runs `op` and checks that it left no cache entry and no persistent
    * RDD beyond the checkpoint its result reads. */
  private def assertNoLeak(name: String)(op: => DataFrame): Unit = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val out = op
    val kept = sc.getPersistentRDDs.keySet -- before
    val resultCheckpoints = out.queryExecution.logical.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
    assert(kept.size <= 1 && kept.subsetOf(resultCheckpoints),
      s"$name kept persistent RDDs $kept; its result reads $resultCheckpoints")
    assert(out.collect().nonEmpty, s"$name: result unreadable")
    Iterate.release(out)
  }

  test("no iterative operator leaks a cache entry or a round's checkpoint") {
    val seeds = Seq("a").toDF("v")
    assertNoLeak("pageRank")(Graph.pageRank(edges))
    assertNoLeak("pageRankWeighted")(
      Graph.pageRankWeighted(edges.withColumn("w", lit(2L))))
    assertNoLeak("labelPropagation")(Graph.labelPropagation(edges))
    assertNoLeak("bfsDistances")(Graph.bfsDistances(edges, seeds, maxHops = 3))
    assertNoLeak("personalizedPageRank")(
      Graph.personalizedPageRank(edges, seeds))
    assertNoLeak("hits")(Graph.hits(edges, iterations = 3))
    assertNoLeak("kCorePeel")(Graph.kCorePeel(edges, k = 2, rounds = 4))
    assertNoLeak("distributedComponents")(Dedup.distributedComponents(
      edges.toDF("id_a", "id_b")))
    assertNoLeak("flattenPaths")(Hierarchy.flattenPaths(
      Seq[(Long, java.lang.Long)]((1L, null), (2L, 1L), (3L, 2L), (4L, 3L))
        .toDF("id", "par"), "id", "par", maxDepth = 8))
  }

  test("untilStable stops after the first round that changes nothing; a spent budget reports the last round's changes") {
    // a countdown: round r zeroes one more row, so 3 nonzero rows take
    // 3 changing rounds and a 4th that reports 0 changes
    val init = Seq(1L, 2L, 3L).toDF("x")
    var rounds = 0
    val (out, changed) = Iterate.untilStable(init, maxRounds = 10, Nil,
        changed = sum(col("_chg"))) { prev =>
      rounds += 1
      val top = prev.agg(max(col("x"))).head().getLong(0)
      prev.select(when(col("x") === top && top > 0, 0L).otherwise(col("x")).as("x"),
        (col("x") === top && top > 0).cast("long").as("_chg"))
    }
    assert(rounds == 4 && changed == 0L)
    assert(out.select(col("x")).as[Long].collect().toSeq == Seq(0L, 0L, 0L))
    Iterate.release(out)
    // a budget that runs out first reports the last round's changes
    val (cut, left) = Iterate.untilStable(init, maxRounds = 2, Nil,
        changed = sum(col("_chg"))) { prev =>
      prev.select(col("x"), lit(1L).as("_chg"))
    }
    assert(left == 3L)
    Iterate.release(cut)
  }

  test("untilStable leaves the session serializable (Spark ML models capture it in task closures)") {
    val (out, _) = Iterate.untilStable((1L to 4L).toDF("x"), 2, Nil,
      sum(col("x")))(_.select((col("x") - 1L).as("x")))
    Iterate.release(out)
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
      .writeObject(spark)
  }

  test("the convergence value rides on the round's own action: no extra job") {
    def jobsIn(group: String)(run: => Unit): Long =
      graft.tools.Inspect.withJobCount(spark.sparkContext, group)(run)._2
    val init = (1L to 20L).toDF("x")
    def body(prev: DataFrame) = prev.groupBy((col("x") % 5).as("x"))
      .agg(lit(1L).as("_chg"))
    val fixed = jobsIn("iterate-fixed") {
      Iterate.release(Iterate(init, 3)(body))
    }
    val observed = jobsIn("iterate-observed") {
      Iterate.release(Iterate.untilStable(init, 3, Nil, sum(col("_chg")))(body)._1)
    }
    assert(fixed > 0 && observed == fixed, s"fixed=$fixed observed=$observed")
  }
}
