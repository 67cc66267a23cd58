package graft

import graft.operators.Stats

/** Classical-statistics battery: every operator against hand-computed
  * values, including the degenerate inputs (single class, zero cells).
  */
class StatsSpec extends GraftSpec {
  import spark.implicits._

  test("chiSquareCells: hand-computed 2x2 cells; zero-observed cells still carry expectation") {
    val df = (Seq.fill(4)(("x", "u")) ++ Seq(("x", "v")) ++
      Seq.fill(2)(("y", "u")) ++ Seq.fill(3)(("y", "v"))).toDF("a", "b")
    val m = Stats.chiSquareCells(df, "a", "b")
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")) -> r).toMap
    assert(m.size == 4)
    val xu = m(("x", "u"))
    assert(xu.getAs[Long]("n_obs") == 4 && xu.getAs[Long]("rt") == 5 &&
      xu.getAs[Long]("ct") == 6)
    assert(xu.getAs[Long]("e_milli") == 3000 &&
      xu.getAs[Long]("dev_milli") == 1000 &&
      xu.getAs[Long]("term_milli") == 333)
    val xv = m(("x", "v"))
    assert(xv.getAs[Long]("e_milli") == 2000 &&
      xv.getAs[Long]("dev_milli") == -1000 &&
      xv.getAs[Long]("term_milli") == 500)
    // total chi-square in milli: 333+500+333+500 ~ 1.6667 in units
    assert(m.values.map(_.getAs[Long]("term_milli")).sum == 1666L)
    // a value pair never observed still gets a cell with expectation
    val df2 = df.union(Seq(("z", "u")).toDF("a", "b"))
    val m2 = Stats.chiSquareCells(df2, "a", "b")
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")) -> r).toMap
    assert(m2.size == 6)
    val zv = m2(("z", "v"))
    assert(zv.getAs[Long]("n_obs") == 0 && zv.getAs[Long]("e_milli") > 0)
  }

  test("ksStatistic: hand-computed max CDF gap with smallest-score tiebreak; single-class null") {
    val df = Seq((1L, true), (2L, true), (3L, true),
      (2L, false), (3L, false), (4L, false)).toDF("s", "y")
    val r = Stats.ksStatistic(df, "s", "y").collect().head
    assert(r.getAs[Long]("n_pos") == 3 && r.getAs[Long]("n_neg") == 3)
    // gaps per score: 333333, 333333, 333334, 0 -> max at s=3
    assert(r.getAs[Long]("ks_micro") == 333334L &&
      r.getAs[Long]("ks_at_score") == 3L)
    val one = Seq((1L, true)).toDF("s", "y")
    val r0 = Stats.ksStatistic(one, "s", "y").collect().head
    assert(r0.isNullAt(r0.fieldIndex("ks_micro")))
  }

  test("gainsDeciles: hand-computed capture and lift over 5 buckets") {
    // ids 1..10, score 11-id (so rank order = id), positives = ids 1-3
    val df = (1L to 10L).map(i => (i, 11L - i, i <= 3))
      .toDF("id", "s", "y")
    val m = Stats.gainsDeciles(df, "id", "s", "y", buckets = 5)
      .collect().map(r => r.getAs[Int]("bucket") -> r).toMap
    assert(m.keySet == Set(0, 1, 2, 3, 4))
    assert(m.values.forall(_.getAs[Long]("n") == 2))
    assert(m(0).getAs[Long]("n_pos") == 2 &&
      m(0).getAs[Long]("capture_micro") == 666666L &&
      m(0).getAs[Long]("lift_micro") == 3333333L)
    assert(m(1).getAs[Long]("n_pos") == 1 &&
      m(1).getAs[Long]("capture_micro") == 1000000L &&
      m(1).getAs[Long]("lift_micro") == 1666666L)
    assert(m(4).getAs[Long]("n_pos") == 0 &&
      m(4).getAs[Long]("capture_micro") == 1000000L &&
      m(4).getAs[Long]("lift_micro") == 0L)
  }

  test("cochranQ: hand-computed 3-system Q; k=2 reduces to uncorrected McNemar; all-or-nothing null") {
    // items: (1,1,0), (1,0,0), (1,1,1), (0,0,0)
    // G = (3,2,1), T = 6, sumL2 = 14 -> Q = 2*(42-36)/(18-14) = 3.0
    val df = Seq((true, true, false), (true, false, false),
      (true, true, true), (false, false, false)).toDF("a", "b", "c")
    val r = Stats.cochranQ(df, Seq("a", "b", "c")).collect().head
    assert(r.getAs[Long]("n_items") == 4 && r.getAs[Long]("k") == 3)
    assert(r.getAs[Long]("sum_l") == 6 &&
      r.getAs[Long]("sum_l_sq") == 14 &&
      r.getAs[Long]("sum_g_sq") == 14)
    assert(r.getAs[Long]("q_micro") == 3000000L)
    // k = 2: (1,0),(1,0),(0,1),(1,1),(0,0) -> (b-c)^2/(b+c) = 1/3
    val two = Seq((true, false), (true, false), (false, true),
      (true, true), (false, false)).toDF("a", "b")
    assert(Stats.cochranQ(two, Seq("a", "b")).collect().head
      .getAs[Long]("q_micro") == 333333L)
    // every item all-right or all-wrong: denominator 0 -> null
    val flat = Seq((true, true), (false, false)).toDF("a", "b")
    val r0 = Stats.cochranQ(flat, Seq("a", "b")).collect().head
    assert(r0.isNullAt(r0.fieldIndex("q_micro")))
  }

  test("brierScore: exact micro MSE; perfect and inverted scores") {
    val df = Seq((1000000L, true), (0L, true), (500000L, false))
      .toDF("sm", "y")
    val r = Stats.brierScore(df, "sm", "y").collect().head
    // (0 + 1e12 + 2.5e11) div 3e6 = 416666
    assert(r.getAs[Long]("n") == 3 &&
      r.getAs[Long]("brier_micro") == 416666L)
    val perfect = Seq((1000000L, true), (0L, false)).toDF("sm", "y")
    assert(Stats.brierScore(perfect, "sm", "y").collect().head
      .getAs[Long]("brier_micro") == 0L)
  }

  test("spearman: perfect, reversed, and tie-broken rankings score exactly") {
    val up = Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 30L, 3.0))
      .toDF("id", "x", "y")
    assert(Stats.spearman(up, "id", "x", "y").collect().head
      .getAs[Long]("rho_micro") == 1000000L)
    val down = Seq((1L, 10L, 3.0), (2L, 20L, 2.0), (3L, 30L, 1.0))
      .toDF("id", "x", "y")
    val r = Stats.spearman(down, "id", "x", "y").collect().head
    assert(r.getAs[Long]("sum_d_sq") == 8 &&
      r.getAs[Long]("rho_micro") == -1000000L)
    // ties in x break by id: x-ranks for ids (1,2,3) are (2,3,1)
    val tie = Seq((1L, 5L, 2.0), (2L, 5L, 3.0), (3L, 1L, 1.0))
      .toDF("id", "x", "y")
    // y-ranks (2,3,1) too -> d = 0 -> perfectly correlated
    assert(Stats.spearman(tie, "id", "x", "y").collect().head
      .getAs[Long]("rho_micro") == 1000000L)
    // a single row: undefined -> null
    val one = Seq((1L, 5L, 2.0)).toDF("id", "x", "y")
    val r1 = Stats.spearman(one, "id", "x", "y").collect().head
    assert(r1.isNullAt(r1.fieldIndex("rho_micro")))
  }

  test("categoricalEntropy: uniform two-category split scores ln(2)/2 per term") {
    val df = Seq("a", "b").toDF("c")
    val rows = Stats.categoricalEntropy(df, "c").collect()
      .map(r => r.getAs[String]("category") -> r).toMap
    assert(rows("a").getAs[Long]("p_micro") == 500000L)
    assert(rows("a").getAs[Double]("h_term") == 0.346574)
    // a certain column has zero entropy
    val sure = Seq("a", "a").toDF("c")
    assert(Stats.categoricalEntropy(sure, "c").collect().head
      .getAs[Double]("h_term") == 0.0)
  }

  test("mutualInformationCells: perfect dependence scores ln(2)/2 per cell; independence scores 0") {
    val dep = Seq(("x", "u"), ("x", "u"), ("y", "v"), ("y", "v"))
      .toDF("a", "b")
    val rows = Stats.mutualInformationCells(dep, "a", "b").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("p_micro") == 500000L &&
        r.getAs[Double]("mi_term") == 0.346574)
    }
    // independent: every cell p_ab = p_a p_b -> ln(1) = 0
    val ind = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("a", "b")
    assert(Stats.mutualInformationCells(ind, "a", "b").collect()
      .forall(_.getAs[Double]("mi_term") == 0.0))
  }

  test("kaplanMeier: hand-computed product-limit fold with censoring") {
    val ev = Seq(
      ("u1", "2024-01-01"), ("u1", "2024-01-05"),
      ("u2", "2024-01-01"),
      ("u3", "2024-01-20"), ("u3", "2024-01-31"),
      ("u4", "2024-01-02"), ("u4", "2024-01-06"),
      ("u5", "2024-01-25"), ("u5", "2024-01-31")
    ).toDF("id", "ts")
    val rows = Stats.kaplanMeier(ev, "id", "ts", censorDays = 14)
      .collect().map(r => r.getAs[Long]("t") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("n_event"),
          r.getAs[Long]("n_censored"), r.getAs[Long]("s_micro"))).toMap
    // horizon 2024-01-31; u1/u2/u4 silent > 14d -> events at t=4,0,4;
    // u3 (t=11) and u5 (t=6) censored
    assert(rows == Map(
      0L -> ((5L, 1L, 0L, 800000L)),
      4L -> ((4L, 2L, 0L, 400000L)),
      6L -> ((2L, 0L, 1L, 400000L)),
      11L -> ((1L, 0L, 1L, 400000L))))
    // 4 distinct lifetimes over a bound of 3: rejected before the fold
    intercept[IllegalArgumentException](
      Stats.kaplanMeier(ev, "id", "ts", censorDays = 14, maxTimes = 3))
    // all entities still active: survival never leaves 1.0
    val alive = Seq(("a", "2024-01-01"), ("a", "2024-01-31"),
      ("b", "2024-01-20"), ("b", "2024-01-31")).toDF("id", "ts")
    assert(Stats.kaplanMeier(alive, "id", "ts").collect()
      .forall(_.getAs[Long]("s_micro") == 1000000L))
  }

  test("giniConcentration: hand-computed rank formula; uniform mass is 0; bad rows counted") {
    val df = Seq(1L, 1L, 2L, 4L).toDF("x")
    val r = Stats.giniConcentration(df, "x").collect().head
    // sorted 1,1,2,4: 2*sum(r*x)=50, (n+1)*sum=40 -> 10e6/32 = 312500
    assert(r.getAs[Long]("n") == 4 && r.getAs[Long]("sum_x") == 8)
    assert(r.getAs[Long]("gini_micro") == 312500L)
    val eq = Seq(7L, 7L, 7L).toDF("x")
    assert(Stats.giniConcentration(eq, "x").collect().head
      .getAs[Long]("gini_micro") == 0L)
    val bad = Seq(Some(3L), None, Some(-1L), Some(5L)).toDF("x")
    val rb = Stats.giniConcentration(bad, "x").collect().head
    assert(rb.getAs[Long]("n") == 2 && rb.getAs[Long]("n_skipped") == 2)
  }

  test("chao1Richness: hand-computed bias-corrected estimate; empty tokens dropped") {
    val toks = Seq("a", "a", "b", "c", "c", "d", "").toDF("tok")
    val r = Stats.chao1Richness(toks, "tok").collect().head
    // counts a:2 b:1 c:2 d:1 -> s_obs=4 f1=2 f2=2
    assert(r.getAs[Long]("s_obs") == 4 && r.getAs[Long]("f1") == 2 &&
      r.getAs[Long]("f2") == 2)
    // 4e6 + 2*1*1e6 div (2*3) = 4333333
    assert(r.getAs[Long]("chao1_micro") == 4333333L)
    // no doubletons: the +1 keeps the correction defined
    val singles = Seq("x", "y").toDF("tok")
    val rs = Stats.chao1Richness(singles, "tok").collect().head
    assert(rs.getAs[Long]("f2") == 0 &&
      rs.getAs[Long]("chao1_micro") == 3000000L)
  }

  test("medianAbsoluteDeviation: exact lower medians, odd and even counts") {
    val r = Stats.medianAbsoluteDeviation(
      Seq(1L, 2L, 3L, 4L, 10L).toDF("x"), "x").collect().head
    // median 3; residuals 2,1,0,1,7 -> mad 1
    assert(r.getAs[Long]("n") == 5 && r.getAs[Long]("median") == 3 &&
      r.getAs[Long]("mad") == 1)
    val even = Stats.medianAbsoluteDeviation(
      Seq(1L, 2L, 3L, 4L).toDF("x"), "x").collect().head
    // lower median 2; residuals 1,0,1,2 -> lower median 1
    assert(even.getAs[Long]("median") == 2 &&
      even.getAs[Long]("mad") == 1)
  }

  test("theilSen: median pairwise slope with sign-split flooring; day bound enforced") {
    val daily = Seq(("2024-01-01", 1L), ("2024-01-02", 3L),
      ("2024-01-04", 2L))
      .map { case (d, n) => (java.sql.Date.valueOf(d), n) }
      .toDF("d", "n")
    val r = Stats.theilSen(daily).collect().head
    // slopes: 2e6, 333333, -500000 -> lower median 333333
    assert(r.getAs[Long]("n_days") == 3 &&
      r.getAs[Long]("n_pairs") == 3 &&
      r.getAs[Long]("slope_micro") == 333333L)
    intercept[IllegalArgumentException] {
      Stats.theilSen(daily, maxDays = 2)
    }
  }

  test("winsorizedStats: hand-computed Hampel fence, clip counts, winsorized mean") {
    val df = ((1L to 9L) :+ 100L).toDF("x")
    val r = Stats.winsorizedStats(df, "x", k = 3).collect().head
    // median 5, MAD 2 -> fence [-1, 11]; 100 clips to 11
    assert(r.getAs[Long]("median") == 5 && r.getAs[Long]("mad") == 2)
    assert(r.getAs[Long]("lo") == -1 && r.getAs[Long]("hi") == 11)
    assert(r.getAs[Long]("n_clipped_lo") == 0 &&
      r.getAs[Long]("n_clipped_hi") == 1)
    // winsorized sum 45 + 11 = 56 over 10 rows
    assert(r.getAs[Long]("winsorized_mean_micro") == 5600000L)
  }

  test("dispersionByKey: Fano factor per key; steady is 0, zero-mass is null") {
    val daily = Seq(("k1", 2L), ("k1", 2L), ("k1", 2L),
      ("k2", 1L), ("k2", 3L), ("k3", 0L), ("k3", 0L))
      .toDF("key", "x")
    val r = Stats.dispersionByKey(daily, "key", "x").collect()
      .map(x => x.getAs[String]("key") -> x).toMap
    assert(r("k1").getAs[Long]("dispersion_micro") == 0L)
    // k2: (2*10 - 16) * 1e6 / (2*4) = 500000
    assert(r("k2").getAs[Long]("dispersion_micro") == 500000L)
    assert(r("k3").isNullAt(r("k3").fieldIndex("dispersion_micro")))
  }

  test("qqDeciles: exact lower-quantile boundaries and gaps") {
    val a = (1L to 10L).toDF("x")
    val b = (11L to 20L).toDF("x")
    val r = Stats.qqDeciles(a, b, "x").collect()
      .map(x => x.getAs[Long]("decile") ->
        (x.getAs[Long]("q_a"), x.getAs[Long]("q_b"),
          x.getAs[Long]("gap"))).toMap
    assert(r.keySet == (1L to 9L).toSet)
    (1L to 9L).foreach { i =>
      assert(r(i) == ((i, i + 10L, 10L)), s"decile $i: ${r(i)}")
    }
  }

  test("cohensD: hand-folded pooled floors; tiny group is null") {
    val df = Seq((2L, true), (4L, true), (0L, false), (2L, false))
      .toDF("x", "g")
    val r = Stats.cohensD(df, "x", "g").collect().head
    // means 3e6 / 1e6; dev-square sums 2 + 2, pooled var (2+2)/2=2,
    // sp = floor(sqrt 2) = 1 -> d_milli = 2e6 div 1000 = 2000
    assert(r.getAs[Long]("mean_a_micro") == 3000000L &&
      r.getAs[Long]("mean_b_micro") == 1000000L)
    assert(r.getAs[Long]("sp") == 1 && r.getAs[Long]("d_milli") == 2000)
    val tiny = Seq((1L, true), (0L, false), (2L, false)).toDF("x", "g")
    val rt = Stats.cohensD(tiny, "x", "g").collect().head
    assert(rt.isNullAt(rt.fieldIndex("d_milli")))
  }

  test("welchT: hand-folded unequal-variance t and Satterthwaite dof; tiny group null") {
    // a = {2, 4}, b = {0, 2}: va = vb = 2, ra = rb = 1,
    // se = floor(sqrt 2) = 1, t_milli = 2e6 div 1000 = 2000,
    // dof = (1+1)^2 / (1/1 + 1/1) = 2 -> 2000 milli (exact for equal
    // groups with equal variance)
    val df = Seq((2L, true), (4L, true), (0L, false), (2L, false))
      .toDF("x", "g")
    val r = Stats.welchT(df, "x", "g").collect().head
    assert(r.getAs[Long]("se") == 1L && r.getAs[Long]("t_milli") == 2000L)
    assert(r.getAs[Long]("dof_milli") == 2000L)
    val tiny = Seq((1L, true), (0L, false), (2L, false)).toDF("x", "g")
    val rt = Stats.welchT(tiny, "x", "g").collect().head
    assert(rt.isNullAt(rt.fieldIndex("t_milli")))
  }

  test("momentsProfile: hand power sums -> central sum, skew, excess kurtosis; merge identity") {
    // x = {0, 0, 6}: M2 = 24 (central sum), skew = 16/8^1.5 = 0.7071
    // -> floor 707 milli, kurt = 96/64 - 3 = -1.5 -> -1500 milli
    val df = Seq(0L, 0L, 6L).toDF("x")
    val r = Stats.momentsProfile(df, "x").collect().head
    assert(r.getAs[Long]("mean_micro") == 2000000L)
    assert(r.getAs[Long]("m2") == 24L)
    assert(r.getAs[Long]("skew_milli") == 707L)
    assert(r.getAs[Long]("kurt_excess_milli") == -1500L)
    // per-slice partials merged by addition reproduce the whole
    val sliced = Seq((0L, "a"), (0L, "b"), (6L, "b")).toDF("x", "s")
    val m = Stats.momentsFromPartials(
      Stats.momentsPartials(sliced, "x", slices = Seq("s")))
      .collect().head
    assert(m.getAs[Long]("skew_milli") == 707L &&
      m.getAs[Long]("kurt_excess_milli") == -1500L)
    // constant series: m2 = 0 -> shape stats null
    val const = Seq(5L, 5L).toDF("x")
    val rc = Stats.momentsProfile(const, "x").collect().head
    assert(rc.isNullAt(rc.fieldIndex("skew_milli")) &&
      rc.isNullAt(rc.fieldIndex("kurt_excess_milli")))
  }

  test("cramersV: perfect association is 1e6; independence is 0; 1xM table null") {
    // perfect 2x2 association: chi2 = n -> V = 1
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val rp = Stats.cramersV(perfect, "a", "b").collect().head
    assert(rp.getAs[Long]("v_micro") == 1000000L)
    // exact independence: every cell at its expectation -> chi2 = 0
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val ri = Stats.cramersV(indep, "a", "b").collect().head
    assert(ri.getAs[Long]("chi2_milli") == 0L &&
      ri.getAs[Long]("v_micro") == 0L)
    val degenerate = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    val rd = Stats.cramersV(degenerate, "a", "b").collect().head
    assert(rd.isNullAt(rd.fieldIndex("v_micro")))
  }

  test("mannWhitneyU: hand-folded doubled mid-ranks, tie variance, dominance; constant series null") {
    // a = {1, 3}, b = {2, 2}: cells (1: ca1 c1 f0), (2: ca0 c2 f1),
    // (3: ca1 c1 f3) -> 2R_a = 1*(0+1+1) + 1*(6+1+1) = 10,
    // u2_a = 10 - 2*3 = 4 (U_a = 2: the 3 beats both 2s), u2_b = 4,
    // T = 2^3-2 = 6, var4 = 4*(64-4-6) div 36 = 6, sig2 = 2, z = 0
    val even = Seq((1L, true), (3L, true), (2L, false), (2L, false))
      .toDF("x", "g")
    val r = Stats.mannWhitneyU(even, "x", "g").collect().head
    assert(r.getAs[Long]("u2_a") == 4L && r.getAs[Long]("u2_b") == 4L)
    assert(r.getAs[Long]("tie_cubes") == 6L &&
      r.getAs[Long]("z_micro") == 0L)
    // full dominance a = {5, 6} over b = {1, 2}: u2_a = 8 = 2*n_a*n_b,
    // var4 = 4*60 div 36 = 6, sig2 = 2, z = (8-4)*1e6 div 2 = 2e6
    val dom = Seq((5L, true), (6L, true), (1L, false), (2L, false))
      .toDF("x", "g")
    val rd = Stats.mannWhitneyU(dom, "x", "g").collect().head
    assert(rd.getAs[Long]("u2_a") == 8L &&
      rd.getAs[Long]("z_micro") == 2000000L)
    // all values tied: variance 0 -> z null (u2 still splits the ties)
    val const = Seq((7L, true), (7L, false)).toDF("x", "g")
    val rc = Stats.mannWhitneyU(const, "x", "g").collect().head
    assert(rc.getAs[Long]("u2_a") == 1L &&
      rc.isNullAt(rc.fieldIndex("z_micro")))
  }

  test("kendallTau: perfect, reversed, tie-cancelled; cell bound enforced") {
    val up = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val r = Stats.kendallTau(up, "x", "y").collect().head
    assert(r.getAs[Long]("conc") == 3L && r.getAs[Long]("disc") == 0L)
    assert(r.getAs[Long]("tau_micro") == 1000000L)
    val down = Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("x", "y")
    assert(Stats.kendallTau(down, "x", "y").collect().head
      .getAs[Long]("tau_micro") == -1000000L)
    // the 2x2 grid: one concordant and one discordant diagonal, the
    // x-tied and y-tied pairs count to neither -> tau exactly 0
    val grid = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("x", "y")
    val rg = Stats.kendallTau(grid, "x", "y").collect().head
    assert(rg.getAs[Long]("conc") == 1L && rg.getAs[Long]("disc") == 1L)
    assert(rg.getAs[Long]("tau_micro") == 0L)
    intercept[IllegalArgumentException] {
      Stats.kendallTau(up, "x", "y", maxCells = 2)
    }
  }

  test("mannKendall: monotone series and all-tied series") {
    def daily(vals: Seq[Long]) = vals.zipWithIndex.map { case (n, i) =>
      (java.sql.Date.valueOf(s"2024-01-0${i + 1}"), n) }.toDF("d", "n")
    val r = Stats.mannKendall(daily(Seq(1L, 2L, 3L))).collect().head
    // S = 3, var18 = 3*2*11 = 66, var = 3, sqrt -> 1, z = (3-1)e6
    assert(r.getAs[Long]("s_stat") == 3 &&
      r.getAs[Long]("var18") == 66 &&
      r.getAs[Long]("z_micro") == 2000000L)
    val rt = Stats.mannKendall(daily(Seq(5L, 5L, 5L))).collect().head
    assert(rt.getAs[Long]("s_stat") == 0 &&
      rt.getAs[Long]("var18") == 0 &&
      rt.isNullAt(rt.fieldIndex("z_micro")))
  }

  test("runsTest: alternating vs blocked sequences; median-equal days excluded") {
    def daily(vals: Seq[Long]) = vals.zipWithIndex.map { case (n, i) =>
      (java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), n) }.toDF("d", "n")
    // 1,9,1,9: median 1 -> equal-to-median days drop, 2 above remain
    // as a single side: variance 0, z null
    val r0 = Stats.runsTest(daily(Seq(1L, 9L, 1L, 9L))).collect().head
    assert(r0.getAs[Long]("n_above") == 2 &&
      r0.getAs[Long]("n_below") == 0 &&
      r0.isNullAt(r0.fieldIndex("z_micro")))
    // 0,9,0,9,0,9 around median 0: three above-runs... median is 0,
    // the zeros drop; use a 6-day mix with median 3: 1,9,1,9,1,9 has
    // lower median 1 -> drops; so use 0,9,2,9,0,9 (median 2 drops one)
    val r = Stats.runsTest(daily(Seq(0L, 9L, 2L, 9L, 0L, 9L)))
      .collect().head
    // median of {0,9,2,9,0,9} lower = 2 -> signs for 0,9,9,0,9 =
    // b,a,a,b,a -> runs = 4, a=3, b=2, n=5, ab2=12
    assert(r.getAs[Long]("n_above") == 3 &&
      r.getAs[Long]("n_below") == 2 && r.getAs[Long]("n_runs") == 4)
    // z = ((4-1)*5 - 12)*1e6 / floor(sqrt(12*7 div 4)) = 3e6 / 4
    assert(r.getAs[Long]("z_micro") == 750000L)
  }

  test("herfindahl: equal groups and single-group concentration") {
    val eq = Seq("a", "b", "c", "d").toDF("k")
    val r = Stats.herfindahl(eq, "k").collect().head
    assert(r.getAs[Long]("n_groups") == 4 &&
      r.getAs[Long]("hhi_micro") == 250000L)
    val one = Seq("z", "z", "z").toDF("k")
    assert(Stats.herfindahl(one, "k").collect().head
      .getAs[Long]("hhi_micro") == 1000000L)
  }
}
