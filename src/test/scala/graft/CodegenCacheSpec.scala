package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** `GraftSession`'s codegen-cache settings: every generated class is
  * compiled once per JVM. The compile counter is JVM-global; suites in
  * one forked test group run one after another, so nothing else
  * compiles while a test here counts. */
class CodegenCacheSpec extends GraftSpec {
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("150 distinct projections, run twice: the second pass compiles nothing") {
    // each query inlines its own literals, so each compiles its own
    // classes: 2 per query, 300 in all, over Spark's default 100-entry
    // cache, which evicts every class before the second pass reuses it
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(0, 8, 1, 2).selectExpr(s"id * $i + ${i * 7}").collect()
    }
    val first = compiles(pass())
    assert(first >= 150, s"first pass compiled $first classes")
    assert(compiles(pass()) == 0)
  }

  test("a new session reuses the generated classes of the session before it") {
    // with artifact isolation each session has its own class loader,
    // which is part of the class cache's key
    def agg(s: SparkSession): Seq[Row] =
      s.range(0, 100, 1, 2).groupBy((col("id") % 7).as("k"))
        .agg(sum(col("id") * 3).as("s")).orderBy("k").collect().toSeq
    var expected, again: Seq[Row] = Nil
    assert(compiles { expected = agg(spark) } > 0)
    assert(compiles { again = agg(spark.newSession()) } == 0)
    assert(again == expected)
  }
}
