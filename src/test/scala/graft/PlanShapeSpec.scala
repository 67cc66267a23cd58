package graft

/** Physical-plan regression guards: the plan SHAPES the scale story
  * depends on, pinned as tests — a future change that silently turns a
  * broadcast join into a nested loop, or a narrow map into a shuffle,
  * fails here instead of in a 100 TB run. Uses sf0.001 (plans, not
  * data, are under test). */
class PlanShapeSpec extends GraftSpec {
  import GateSweepSpec.hasScalaUdf

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      .toString()

  test("geo range joins are broadcast HASH joins, never nested loops") {
    Seq("f1b_geo_range", "f1c_geo_mmdb").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its hash join")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to a nested loop")
      assert(!p.contains("CartesianProduct"), s"$q went cartesian")
    }
  }

  test("q3 join-topk broadcasts its dims and never goes cartesian") {
    val p = plan("q3_join_topk")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("LSH dedup and blocked ER shuffle band keys, never cartesian") {
    Seq("dedup_minhash_lsh", "er_match").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to a nested loop")
    }
  }

  test("long-context chunking is a narrow map: no shuffle exchange") {
    val p = plan("td_chunk")
    assert(!p.contains("Exchange"), "td_chunk grew a shuffle")
    assert(p.contains("Generate"), "expected the explode Generate")
  }

  test("both-sides-huge margin mining SHUFFLES the cell join — no broadcast of either vector side") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val xs = e.filter(col("label") % 2 === 0)
      .select(col("vec_id").as("xid"), col("embedding").as("vec"))
    val ys = e.filter(col("label") % 2 === 1)
      .select(col("vec_id").as("yid"), col("embedding").as("vec"))
    val p = graft.operators.Similarity.cellCandidates(xs, ys,
      nlist = 8, nprobe = 8).queryExecution.executedPlan.toString()
    assert(p.contains("ShuffledHashJoin"),
      s"cell candidate join is not a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastExchange") &&
      !p.contains("BroadcastHashJoin"),
      s"a vector side got broadcast — the both-huge contract broke:\n$p")
  }

  test("UA taxonomy projection stays codegen'd (no UDFs in the plan)") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RLike}
    val df = SparkEntry.queries("f2b_ua_taxonomy")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("BatchEvalPython") && !hasScalaUdf(df),
      "UA parse fell out of codegen")
    // the rule table is one native parse, not a when/rlike tree folded
    // per field and per rule: tree size is planning time
    val exprs: Seq[Expression] =
      df.queryExecution.analyzed.collect { case n => n.expressions }.flatten
    val nodes = exprs.map(_.collect { case e => e }.size).sum
    val rlikes = exprs.map(_.collect { case e: RLike => e }.size).sum
    assert(nodes <= 200, s"f2b analyzed plan holds $nodes expression nodes")
    assert(rlikes == 0, s"f2b analyzed plan holds $rlikes RLike nodes")
  }

  test("active-events aggregation has a map-side partial (two HashAggregate levels)") {
    val p = plan("a1_active_events")
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 2, s"expected partial+final aggregation, saw $n")
  }

  test("conversation assembly and preference pairs shuffle the event stream exactly once") {
    // hash(user_id) / hash(user_id, day) from the first window already
    // clusters every later window and the final aggregation — a second
    // Exchange here would double the event-stream shuffle at any scale
    // loss-mask spans and the role audit compute per-turn offsets /
    // roles ARRAY-SIDE over assemble's output, so they must not add a
    // shuffle on top of assemble's one; preference RANKINGS share the
    // (user, day) clustering across both windows and the count like
    // the pairs form
    Seq("td_sft_assemble", "td_pref_pairs", "td_sft_loss_mask",
        "td_sft_roles", "td_pref_rankings").foreach { q =>
      val p = plan(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n == 1, s"$q expected exactly one shuffle exchange, saw $n")
    }
  }

  test("best-of-N is one exchange and one aggregation — no rank window at all") {
    // the argmax is a min(struct) fold: partials combine map-side, so
    // the plan must be Exchange → HashAggregate levels with NO Window
    // (a rank window here would mean a group's rows serialize through
    // one task at any group size)
    val p = plan("td_best_of_n")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"td_best_of_n expected exactly one shuffle, saw $n")
    assert(!p.contains("Window"), s"td_best_of_n grew a rank window:\n$p")
  }

  test("domain reweighting pays the corpus exactly one aggregation pass") {
    // the corpus-sized work is ONE partial-aggregating scan down to D
    // domain rows; the deliberate whole-frame windows after that run
    // on the D-row frame behind a single-partition exchange of bytes.
    // Two corpus-keyed hash exchanges here would mean the scan leaked
    // into the iteration.
    val p = plan("td_domain_reweight")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 1,
      s"td_domain_reweight shuffled the corpus more than once:\n$p")
  }

  test("FIM and MLM objective transforms are pure projections: zero exchanges, no UDFs") {
    Seq("td_fim_transform", "td_mlm_mask").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange"), s"$q grew a shuffle:\n$p")
      assert(!hasScalaUdf(df) && !p.contains("BatchEvalPython"),
        s"$q fell out of codegen")
    }
  }

  test("curriculum ordering never windows over a whole stage: no single-partition exchange") {
    // the global rank is the two-phase prefix sum (range exchange +
    // per-partition windows); the within-stage order windows on
    // (stage, shard). A `Exchange SinglePartition` would mean a global
    // window snuck back in — the one reducer that dies at corpus scale.
    // The ranked frame is layout-pinned (localCheckpoint truncates its
    // lineage out of the returned plan), so the range pass is audited
    // through the pin's plan stash.
    val p = plan("td_curriculum")
    assert(!p.contains("Exchange SinglePartition"),
      s"td_curriculum has a single-partition exchange:\n$p")
    val pinned = graft.operators.Sampling.lastPinnedPlan
    assert(pinned.contains("Exchange rangepartitioning"),
      s"expected the order-preserving range repartition:\n$pinned")
    assert(!pinned.contains("Exchange SinglePartition"),
      s"pinned rank pass has a single-partition exchange:\n$pinned")
  }

  test("per-stratum perplexity bucketing never windows over a whole language") {
    // strata are languages (few, huge): the rank must be the two-phase
    // range pass, not a PARTITION BY lang global window — audited via
    // the layout pin's plan stash (see the curriculum test)
    val p = plan("td_ppl_buckets")
    assert(!p.contains("Exchange SinglePartition"),
      s"td_ppl_buckets has a single-partition exchange:\n$p")
    val pinned = graft.operators.Sampling.lastPinnedPlan
    assert(pinned.contains("Exchange rangepartitioning"),
      s"expected the order-preserving range repartition:\n$pinned")
    assert(!pinned.contains("Exchange SinglePartition"),
      s"pinned rank pass has a single-partition exchange:\n$pinned")
  }

  test("pack boundaries add no exchange beyond the pack's pinned range pass") {
    // the boundary table is arithmetic over the checkpointed pack frame
    // — any Exchange in its plan means the projection started
    // re-shuffling offsets the row already carries
    val p = plan("td_pack_boundaries")
    assert(!p.contains("Exchange"),
      s"td_pack_boundaries grew a shuffle:\n$p")
    val pinned = graft.operators.Sampling.lastPinnedPlan
    assert(pinned.contains("Exchange rangepartitioning"),
      s"expected the pack's range pass in the pin stash:\n$pinned")
  }

  test("group advantage shares ONE (user, day) clustering across both window passes") {
    // mean and deviation-square windows both key on (user_id, day) —
    // a second hash exchange would double the event-stream shuffle
    val p = plan("td_group_advantage")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"td_group_advantage expected exactly one shuffle, saw $n:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"td_group_advantage grew a single-partition exchange:\n$p")
  }

  test("KN LM training and scoring never broadcast or loop over the corpus") {
    // the bigram/marginal aggregations and the scoring join shuffle on
    // word keys (vocabulary-scale); the only broadcastable piece is
    // the 1-row T count — a corpus-side broadcast or a nested loop
    // would die at 100 TB
    Seq("td_kn_bigram", "td_kn_doc").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
      // T is a driver scalar, NOT a broadcast 1-row frame — a nested
      // loop here would mean the cross join crept back and every model
      // consumer pays it
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a nested loop:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).nonEmpty,
        s"$q lost its word-keyed shuffles:\n$p")
    }
  }

  test("shard balance ranks through the two-phase range pass: no single-partition exchange") {
    // the token-descending rank must be the range exchange + per-
    // partition windows, never a global window on one reducer
    val p = plan("td_shard_balance")
    assert(!p.contains("Exchange SinglePartition"),
      s"td_shard_balance has a single-partition exchange:\n$p")
    val pinned = graft.operators.Sampling.lastPinnedPlan
    assert(pinned.contains("Exchange rangepartitioning"),
      s"expected the rank's range repartition in the pin stash:\n$pinned")
  }

  test("vocab-coverage scoring is scan-shaped: vocab inlined, no join/explode/exchange") {
    // the word histogram is collected at BUILD time (vocabSize rows);
    // the returned frame must be a bare scan + projection
    val p = plan("td_vocab_coverage")
    assert(!p.contains("Exchange"), s"td_vocab_coverage grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"td_vocab_coverage grew a join:\n$p")
    assert(!p.contains("Generate"), s"td_vocab_coverage grew an explode:\n$p")
  }

  test("template audit never partitions an exchange on the raw transcript") {
    // the dedup decision travels as md5 fingerprints: if a future edit
    // grouped on `text` directly, the aggregation exchange would key on
    // the transcript — unbounded shuffle keys at corpus scale
    val p = plan("td_sft_templates")
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, "expected aggregation exchanges")
    val textKeyed = exchanges.filter(_.contains("text"))
    assert(textKeyed.isEmpty,
      s"an exchange is keyed on the transcript: $textKeyed")
  }

  test("kendall tau's gate frame is the EAGER bounded result, not a lazy quadratic") {
    // kendallTau require-bounds the cell table BEFORE its quadratic
    // pair join, runs the join eagerly (the broadcast NLJ executes
    // inside the operator, against ≤ maxCells rows — StatsSpec pins
    // the guard), and hands back a materialized localCheckpoint — so
    // the gate's own plan must be a flat checkpoint scan with no
    // joins left to run at corpus scale
    val p = plan("st_kendall_tau")
    assert(p.contains("ExistingRDD"),
      s"expected a materialized checkpoint scan in:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the quadratic leaked into the gate plan:\n$p")
  }

  test("mann-whitney and moments are scan-shaped: partial aggregation, no row-sized window") {
    // MWU's only window runs over the DISTINCT-value frame (after the
    // value aggregation), so the raw scan must feed a two-level
    // HashAggregate first; the moments profile is one partial-agg scan
    // with no window and no join at all
    val pm = plan("st_mann_whitney")
    assert("HashAggregate".r.findAllIn(pm).length >= 2,
      s"expected partial+final value aggregation in:\n$pm")
    val mo = plan("st_moments")
    assert("HashAggregate".r.findAllIn(mo).length >= 2,
      s"expected partial+final power-sum aggregation in:\n$mo")
    assert(!mo.contains("Window") && !mo.contains("Join"),
      s"moments should be a pure scan+fold:\n$mo")
  }

  test("URL-canonical dedup is one hash aggregation over a codegen'd projection") {
    val p = plan("dedup_url")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly one shuffle (the canon-key agg) in:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"canonical dedup must not join or window:\n$p")
  }

  test("ECE bins aggregate with a map-side partial and no window") {
    val p = plan("eval_ece")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final bin aggregation in:\n$p")
    assert(!p.contains("Window"), s"ECE must not window:\n$p")
  }

  test("graph edge doubling evaluates its upstream ONCE (inline generator, not a self-union)") {
    // r16 optimization: doubling the undirected edge list as
    // e.unionByName(eᵀ) re-ran the upstream edge derivation (a join +
    // distinct over the fact table) once per union arm — every graph
    // gate paid its most expensive stage twice. The inline(array(..))
    // generator doubles rows from ONE evaluation; this pins both the
    // single-scan claim and the generator's presence.
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val e = spark.read.parquet(s"$dir/orders.parquet")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
    // count scan RELATIONS in the optimized logical plan, not physical
    // "Scan parquet" substrings: the physical rendering (AQE wrappers,
    // columnar scan naming) shifts across Spark versions without any
    // semantic change (r16 ADVICE)
    val optimized = operators.Graph.doubled(e)
      .queryExecution.optimizedPlan
    val scans = optimized.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation => r
    }.length
    assert(scans == 2, // orders + lineitem, each exactly once
      s"expected exactly one scan relation per upstream table in:\n$optimized")
    val p = operators.Graph.doubled(e)
      .queryExecution.executedPlan.toString()
    assert(p.contains("Generate"),
      s"expected the inline(array(..)) generator in:\n$p")
    // both orientations really are emitted (semantics unchanged)
    val n = e.count()
    assert(operators.Graph.doubled(e).count() == 2 * n)
  }

  test("Iterate: every round plans over one checkpoint leaf, and the plan is as big in round 10 as in round 1") {
    // persist + count() per round caches a round but keeps its lineage:
    // round N's analyzed plan then carries rounds 1..N-1. Iterate's one
    // eager checkpoint per round must hand the body a single LogicalRDD
    // leaf every round, so the round plan cannot grow with N.
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (0 until 40).flatMap(i => Seq((i, (i + 1) % 40), (i, (i * 7 + 3) % 40)))
      .distinct.toDF("src", "dst")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src").persist()
    val init = deg.select(col("src").as("v"), lit(1.0).as("r")).localCheckpoint(true)
    val inputs, rounds = scala.collection.mutable.ArrayBuffer[Int]()
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case p => p }.size
    val out = operators.Iterate(init, 10, Seq(withDeg)) { ranks =>
      assert(ranks.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        ranks.queryExecution.analyzed.treeString)
      inputs += nodes(ranks)
      val next = withDeg
        .join(ranks, withDeg("src") === ranks("v"))
        .select(col("dst"), (col("r") / col("deg")).as("m"))
        .groupBy(col("dst"))
        .agg((lit(0.15) + lit(0.85) * sum(col("m"))).as("r"))
        .select(col("dst").as("v"), col("r"))
      rounds += nodes(next)
      next
    }
    assert(inputs == Seq.fill(10)(1), inputs)
    assert(rounds.size == 10 && rounds.last == rounds.head, rounds)
    // same arithmetic as an unchecked loop: rank mass stays at N
    assert(math.abs(out.agg(sum(col("r"))).head().getDouble(0) - 40.0) < 1e-9)
    operators.Iterate.release(out)
    operators.Iterate.release(init)
  }
}
