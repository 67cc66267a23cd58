package graft

import java.nio.file.Files

import graft.tools.Inspect

/** `Inspect`'s subcommands on one cheap gate, so the tool cannot rot
  * unseen: the census line format, the per-gate plan files, the timing
  * loop's failed-gate rule and work counters, and the shared argument
  * parser. */
class InspectSpec extends GraftSpec {
  test("census: one CENSUS line in the join-census format") {
    assert(Inspect.censusLine(spark, sf, "a9_rollup") ==
      "CENSUS a9_rollup smj=0 shj=0 bhj=0 bnl=0 exch=1")
  }

  test("plans: one <gate>.txt per gate under --out, pseudo-gates included") {
    val out = Files.createTempDirectory("graft-inspect-plans")
    Inspect.plans(spark, sf, Seq("a9_rollup", "g9_ppr_round"), Some(out.toString))
    Seq("a9_rollup", "g9_ppr_round").foreach { g =>
      val txt = new String(Files.readAllBytes(out.resolve(s"$g.txt")), "UTF-8")
      assert(txt.contains("== Physical Plan =="), s"$g: $txt")
    }
  }

  test("time: a gate that throws is listed in failed, never timed") {
    val ok: Inspect.Gate = (s, _) => s.range(3).toDF()
    val buildThrows: Inspect.Gate = (_, _) => throw new IllegalStateException("boom")
    val writeThrows: Inspect.Gate =
      (s, _) => s.range(3).selectExpr("raise_error('boom') AS x")
    val (timed, failed) = Inspect.timeGates(spark, sf, Seq(
      "ok" -> ok, "build_throws" -> buildThrows, "write_throws" -> writeThrows),
      reps = 2)
    val times = timed.map { case (n, r) => n -> r.sec }
    val compiles = timed.map { case (n, r) => n -> r.compiles }
    assert(times.map(_._1) == Seq("ok") && times.head._2 > 0)
    assert(failed == Seq("build_throws", "write_throws"))
    // rep 2 reuses rep 1's generated classes from Spark's class cache;
    // the faster rep is the counted one
    assert(compiles == Seq("ok" -> 0L))
    // the noop write is one job of one stage; the counters see it
    val rep = timed.head._2
    assert(rep.jobs >= 1 && rep.stages >= 1, rep)
  }

  test("parse: gates positional or comma-separated; bad input rejected") {
    val a = Inspect.parse(List("census", "--sf", sf, "--conf",
      "spark.sql.join.preferSortMergeJoin=true", "a9_rollup,g9_ppr_round",
      "g1_pagerank"))
    assert(a.gates == Seq("a9_rollup", "g9_ppr_round", "g1_pagerank"))
    assert(a.conf == Seq("spark.sql.join.preferSortMergeJoin" -> "true"))
    assert(Inspect.parse(List("time", "--sf", sf, "--scale", "2", "--reps", "1"))
      .copy(sf = "") == Inspect.Args("time", scale = 2, reps = 1))
    Seq(List("census", "a9_rollup"), // no --sf
        List("census", "--sf", sf, "no_such_gate"),
        List("plans", "--sf", sf, "--scale", "2"), // time-only option
        List("census", "--sf", sf, "--out", "x"), // census prints only
        List("census", "--sf", sf, "--conf", "novalue"),
        List("explain", "--sf", sf)).foreach { args =>
      intercept[IllegalArgumentException](Inspect.parse(args))
    }
  }
}
