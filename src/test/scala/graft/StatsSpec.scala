package graft

import graft.ops.Stats
import org.apache.spark.sql.functions._

/** Golden cases for the rolling-feature and IQR-outlier operators. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("kruskalWallis: separated groups score the closed-form H, " +
      "identical groups score ~0, roster drift fails loud") {
    val sep = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val r = graft.ops.Stats.kruskalWallis(sep, "g", "v", Seq("a", "b"))
      .collect().head
    // ranks 1..6: Ra=6, Rb=15 -> H = 12/42*(12+75) - 21 = 3.857143
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("h") == 3.857143)
    assert(r.getAs[Double]("tie_correction") == 1.0)
    assert(r.getAs[Double]("h_adjusted") == 3.857143)
    // interleaved identical distributions: H exactly 0 (rank sums equal)
    val same = (Seq(1.0, 3.0, 5.0).map(("a", _)) ++
      Seq(1.0, 3.0, 5.0).map(("b", _))).toDF("g", "v")
    val s = graft.ops.Stats.kruskalWallis(same, "g", "v", Seq("a", "b"))
      .collect().head
    assert(math.abs(s.getAs[Double]("h_adjusted")) < 1e-6)
    intercept[IllegalArgumentException] {
      graft.ops.Stats.kruskalWallis(sep, "g", "v", Seq("a", "b", "c"))
    }
  }

  test("cramersV: identical columns score V=1 (raw and corrected), " +
      "independent columns score 0") {
    val perfect = Seq("a", "b", "a", "b", "a", "b", "a", "b")
      .map(v => (v, v)).toDF("x", "y")
    val p = graft.ops.Stats.cramersV(perfect, "x", "y").collect().head
    assert(p.getAs[Long]("n") == 8L && p.getAs[Long]("r") == 2L)
    assert(p.getAs[Double]("cramers_v") == 1.0)
    assert(p.getAs[Double]("cramers_v_corrected") == 1.0)
    // balanced 2x2 with equal cells: zero association, corrected stays 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq("c", "d");
                       _ <- 1 to 3 } yield (x, y)).toDF("x", "y")
    val i = graft.ops.Stats.cramersV(indep, "x", "y").collect().head
    assert(i.getAs[Double]("chi2") == 0.0)
    assert(i.getAs[Double]("cramers_v") == 0.0)
    assert(i.getAs[Double]("cramers_v_corrected") == 0.0)
  }

  test("brownForsythe: equal spreads score W=0, a doubled spread the " +
      "closed form, roster drift fails loud") {
    val eq = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(11.0, 12.0, 13.0).map(("b", _))).toDF("g", "v")
    val e = graft.ops.Stats.brownForsythe(eq, "g", "v", Seq("a", "b"))
      .collect().head
    assert(e.getAs[Long]("n") == 6L)
    assert(e.getAs[Long]("n_a") == 3L && e.getAs[Long]("n_b") == 3L)
    assert(e.getAs[Double]("w_stat") == 0.0)
    // b twice as spread: z_a = (1,0,1), z_b = (2,0,2) -> W = 4*(2/3)/(10/3)
    val un = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(10.0, 12.0, 14.0).map(("b", _))).toDF("g", "v")
    val u = graft.ops.Stats.brownForsythe(un, "g", "v", Seq("a", "b"))
      .collect().head
    assert(u.getAs[Double]("w_stat") == 0.8)
    assert(u.getAs[Int]("df1") == 1 && u.getAs[Long]("df2") == 4L)
    intercept[IllegalArgumentException] {
      graft.ops.Stats.brownForsythe(eq, "g", "v", Seq("a"))
    }
  }

  test("anovaOneWay: shifted equal-variance groups score the closed-form " +
      "F/eta2/omega2/Welch; identical groups score 0; roster fails loud") {
    // a=(1,2,3) b=(2,3,4) c=(3,4,5): SSB=6, SSW=6 -> F=3, eta2=0.5,
    // omega2=(6-2)/(12+1)=0.307692; Welch: wj=3, A=3, lam=2/3,
    // B=1+0.25*(2/3) -> F_w=2.571429, df2_w=8/2=4
    val sep = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 3.0, 4.0).map(("b", _)) ++
      Seq(3.0, 4.0, 5.0).map(("c", _))).toDF("g", "v")
    val r = Stats.anovaOneWay(sep, "g", "v", Seq("a", "b", "c"))
      .collect().head
    assert(r.getAs[Long]("n") == 9L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("f_stat") == 3.0)
    assert(r.getAs[Int]("df1") == 2 && r.getAs[Long]("df2") == 6L)
    assert(r.getAs[Double]("eta2") == 0.5)
    assert(r.getAs[Double]("omega2") == 0.307692)
    assert(r.getAs[Double]("welch_f") == 2.571429)
    assert(r.getAs[Double]("welch_df2") == 4.0)
    // identical groups: F = 0 and omega2 clamps at 0, Welch A = 0
    val same = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(1.0, 2.0, 3.0).map(("b", _))).toDF("g", "v")
    val s = Stats.anovaOneWay(same, "g", "v", Seq("a", "b")).collect().head
    assert(s.getAs[Double]("f_stat") == 0.0)
    assert(s.getAs[Double]("eta2") == 0.0)
    assert(s.getAs[Double]("omega2") == 0.0)
    assert(s.getAs[Double]("welch_f") == 0.0)
    intercept[IllegalArgumentException] {
      Stats.anovaOneWay(sep, "g", "v", Seq("a", "b"))
    }
  }

  test("herfindahl: a monopoly market scores HHI=1, an equal duopoly " +
      "0.5 with two effective competitors") {
    val df = Seq(
      ("mono", "e1", 10.0), ("mono", "e1", 5.0),
      ("duo", "a", 7.0), ("duo", "b", 3.5), ("duo", "b", 3.5))
      .toDF("m", "e", "v")
    val r = Stats.herfindahl(df, "m", "e", "v").collect()
    val mono = r.find(_.getString(0) == "mono").get
    assert(mono.getAs[Long]("n_entities") == 1L)
    assert(mono.getAs[Double]("market_value") == 15.0)
    assert(mono.getAs[Double]("hhi") == 1.0)
    assert(mono.getAs[Double]("effective_n") == 1.0)
    assert(mono.getAs[Double]("top_share") == 1.0)
    val duo = r.find(_.getString(0) == "duo").get
    assert(duo.getAs[Long]("n_entities") == 2L)
    assert(duo.getAs[Double]("market_value") == 14.0)
    assert(duo.getAs[Double]("hhi") == 0.5)
    assert(duo.getAs[Double]("effective_n") == 2.0)
    assert(duo.getAs[Double]("top_share") == 0.5)
  }

  test("theilDecomposition: within-equal groups put all inequality " +
      "between; uniform values score 0 everywhere") {
    // A: 100+100, B: 300+300 -> mu=200; T_b = 0.25*ln(0.5)+0.75*ln(1.5)
    val df = Seq(("A", 1L, 100.0), ("A", 2L, 100.0),
      ("B", 3L, 300.0), ("B", 4L, 300.0)).toDF("g", "e", "v")
    val r = Stats.theilDecomposition(df, "g", "e", "v")
      .collect()
    val a = r.find(_.getString(0) == "A").get
    assert(a.getAs[Double]("value_share") == 0.25)
    assert(a.getAs[Double]("mean_ratio") == 0.5)
    assert(a.getAs[Double]("theil_within_group") == 0.0)
    assert(a.getAs[Double]("theil_within") == 0.0)
    assert(a.getAs[Double]("theil_between") == 0.130812)
    assert(a.getAs[Double]("theil_total") == 0.130812)
    val b = r.find(_.getString(0) == "B").get
    assert(b.getAs[Double]("mean_ratio") == 1.5)
    // uniform corpus: every term 0
    val flat = Seq(("A", 1L, 5.0), ("A", 2L, 5.0), ("B", 3L, 5.0))
      .toDF("g", "e", "v")
    val f = Stats.theilDecomposition(flat, "g", "e", "v").collect().head
    assert(f.getAs[Double]("theil_total") == 0.0)
    assert(f.getAs[Double]("theil_between") == 0.0)
    assert(f.getAs[Double]("theil_within") == 0.0)
  }

  test("cochranArmitage: a perfect dose response scores the closed " +
      "form; degenerate slices go NULL, not throw") {
    // scores 0,1,2 with 2 obs each, successes 0/1/2:
    // T=5, E=3, Sxx=4, Var=1 -> z=2, chi2=4, slope=0.5
    val df = Seq((0, false), (0, false), (1, true), (1, false),
      (2, true), (2, true)).toDF("s", "y")
    val r = Stats.cochranArmitage(df, "s", col("y")).collect().head
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("successes") == 3L)
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("t_stat") == 5L)
    assert(r.getAs[Double]("z") == 2.0)
    assert(r.getAs[Double]("chi2_trend") == 4.0)
    assert(r.getAs[Double]("prop_slope") == 0.5)
    // constant score: zero variance -> NULL test columns
    val const = Seq((1, true), (1, false)).toDF("s", "y")
    val c = Stats.cochranArmitage(const, "s", col("y")).collect().head
    assert(c.isNullAt(c.fieldIndex("z")))
    assert(c.isNullAt(c.fieldIndex("prop_slope")))
    // all successes: varT = 0 -> NULL z, slope exactly 0
    val all = Seq((0, true), (1, true), (2, true)).toDF("s", "y")
    val a = Stats.cochranArmitage(all, "s", col("y")).collect().head
    assert(a.isNullAt(a.fieldIndex("z")))
    assert(a.getAs[Double]("prop_slope") == 0.0)
  }

  test("brierDecomposition: equal-forecast bins satisfy the exact " +
      "three-term Murphy identity (residual 0)") {
    // (0.2,0)x2, (0.8,1), (0.8,0): brier .19, rel .065, res .0625,
    // unc .1875 -> residual exactly 0, skill 1 - .19/.1875
    val df = Seq((0.2, false), (0.2, false), (0.8, true), (0.8, false))
      .toDF("score", "y")
    val r = Stats.brierDecomposition(df, "score", col("y"), bins = 10)
      .collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("n_pos") == 1L)
    assert(r.getAs[Double]("brier") == 0.19)
    assert(r.getAs[Double]("reliability") == 0.065)
    assert(r.getAs[Double]("resolution") == 0.0625)
    assert(r.getAs[Double]("uncertainty") == 0.1875)
    assert(r.getAs[Double]("residual") == 0.0)
    assert(r.getAs[Double]("brier_skill") == -0.013333)
    intercept[Exception] {
      Stats.brierDecomposition(Seq((1.2, true)).toDF("score", "y"),
        "score", col("y"), bins = 10).collect()
    }
  }

  test("effectSizes: hand-computed d/g/delta and CI; degenerate " +
      "spread reports NULLs") {
    val df = Seq(("t", 2.0), ("t", 4.0), ("c", 1.0), ("c", 3.0))
      .toDF("g", "v")
    val r = Stats.effectSizes(df, "g", "v", "t", "c").collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("mean_a") == 3.0)
    assert(r.getAs[Double]("mean_b") == 2.0)
    assert(r.getAs[Double]("mean_diff") == 1.0)
    assert(r.getAs[Double]("sd_pooled") == 1.414214)
    assert(r.getAs[Double]("cohens_d") == 0.707107)
    assert(r.getAs[Double]("hedges_g") == 0.404061)
    assert(r.getAs[Double]("glass_delta") == 0.707107)
    assert(r.getAs[Double]("d_lo") == -1.313178)
    assert(r.getAs[Double]("d_hi") == 2.727391)
    // constant values in both groups: zero spread -> NULL d family
    val flat = Seq(("t", 5.0), ("t", 5.0), ("c", 5.0), ("c", 5.0))
      .toDF("g", "v")
    val f = Stats.effectSizes(flat, "g", "v", "t", "c").collect().head
    assert(f.isNullAt(f.fieldIndex("cohens_d")))
    assert(f.getAs[Double]("mean_diff") == 0.0)
  }

  test("grangerLagOne: both directions replay an independent " +
      "closed-form solve; degenerate series go NULL") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 3, 1).plusDays(i.toLong))
    // per-day counts [1,2,3,1,2,3,2], centi-revenue [500,...,600]
    val rows = Seq(
      (d(0), 5.0), (d(1), 1.0), (d(1), 2.0),
      (d(2), 2.0), (d(2), 3.0), (d(2), 3.0), (d(3), 2.0),
      (d(4), 3.0), (d(4), 4.0), (d(5), 1.0), (d(5), 1.0), (d(5), 2.0),
      (d(6), 3.0), (d(6), 3.0)).toDF("day", "v")
    val r = Stats.grangerLagOne(rows, col("day"), "v").collect()
    val v2v = r.find(_.getString(0) == "volume->value").get
    assert(v2v.getAs[Long]("n_eff") == 6L && v2v.getAs[Long]("df2") == 3L)
    assert(v2v.getAs[Double]("f_stat") == 1.315342)
    assert(v2v.getAs[Double]("lag_own_coef") == -1.044534)
    assert(v2v.getAs[Double]("lag_other_coef") == 80.566802)
    assert(v2v.getAs[Double]("rss_ratio") == 1.438447)
    val rev = r.find(_.getString(0) == "value->volume").get
    assert(rev.getAs[Double]("f_stat") == 0.148437)
    assert(rev.getAs[Double]("lag_other_coef") == -0.000769)
    // constant volume: zero other-lag variance -> singular -> NULLs
    val flat = (0 until 7).map(i => (d(i), (i + 1).toDouble))
      .toDF("day", "v")
    val f = Stats.grangerLagOne(flat, col("day"), "v").collect()
    assert(f.forall(_.isNullAt(f.head.fieldIndex("f_stat"))))
  }

  test("tukeyHsd: shifted unit-variance groups score the closed-form " +
      "pairwise q and d; roster drift fails loud") {
    // a=(1,2,3) b=(2,3,4) c=(3,4,5): MSW=1, se=sqrt(1/3)
    val sep = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 3.0, 4.0).map(("b", _)) ++
      Seq(3.0, 4.0, 5.0).map(("c", _))).toDF("g", "v")
    val r = Stats.tukeyHsd(sep, "g", "v", Seq("a", "b", "c")).collect()
    assert(r.length == 3)
    val ab = r.find(x => x.getString(0) == "a" && x.getString(1) == "b").get
    assert(ab.getAs[Long]("n_a") == 3L && ab.getAs[Long]("n_b") == 3L)
    assert(ab.getAs[Double]("mean_diff") == -1.0)
    assert(ab.getAs[Double]("se_pooled") == 0.57735)
    assert(ab.getAs[Double]("q_stat") == 1.732051)
    assert(ab.getAs[Double]("cohens_d") == -1.0)
    val ac = r.find(x => x.getString(0) == "a" && x.getString(1) == "c").get
    assert(ac.getAs[Double]("mean_diff") == -2.0)
    assert(ac.getAs[Double]("q_stat") == 3.464102)
    intercept[IllegalArgumentException] {
      Stats.tukeyHsd(sep, "g", "v", Seq("a", "b"))
    }
  }

  test("iccOneWay: perfectly clustered groups score ICC 1, perfectly " +
      "anti-clustered score the -1/(k-1) floor") {
    val clustered = Seq(("g1", 1.0), ("g1", 1.0), ("g2", 5.0), ("g2", 5.0))
      .toDF("g", "v")
    val c = Stats.iccOneWay(clustered, "g", "v").collect().head
    assert(c.getAs[Long]("n") == 4L && c.getAs[Long]("n_groups") == 2L)
    assert(c.getAs[Double]("kbar") == 2.0)
    assert(c.getAs[Double]("ms_between") == 16.0)
    assert(c.getAs[Double]("ms_within") == 0.0)
    assert(c.getAs[Double]("icc") == 1.0)
    val anti = Seq(("g1", 1.0), ("g1", 5.0), ("g2", 1.0), ("g2", 5.0))
      .toDF("g", "v")
    val a = Stats.iccOneWay(anti, "g", "v").collect().head
    assert(a.getAs[Double]("ms_between") == 0.0)
    assert(a.getAs[Double]("icc") == -1.0)
  }

  test("expDecayPerKey: exact halving fits rate -ln2, half-life 1, " +
      "R2 1; short series keep a NULL-fit row") {
    val df = Seq(("k1", 1, 0.5), ("k1", 2, 0.25), ("k1", 3, 0.125),
      ("k2", 1, 0.9)).toDF("k", "w", "r")
    val out = Stats.expDecayPerKey(df, "k", "w", "r").collect()
    val k1 = out.find(_.getString(0) == "k1").get
    assert(k1.getAs[Long]("n_points") == 3L)
    assert(k1.getAs[Double]("decay_rate") == -0.693147)
    assert(k1.getAs[Double]("half_life") == 1.0)
    assert(k1.getAs[Double]("r2") == 1.0)
    val k2 = out.find(_.getString(0) == "k2").get
    assert(k2.getAs[Long]("n_points") == 1L)
    assert(k2.isNullAt(k2.fieldIndex("decay_rate")))
  }

  test("mannWhitney: fully separated groups hit U = n_a*n_b with the " +
      "closed-form z and effect size") {
    val df = (Seq(3.0, 4.0, 5.0).map(("a", _)) ++
      Seq(1.0, 2.0).map(("b", _))).toDF("g", "v")
    val r = Stats.mannWhitney(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("u_a") == 6.0)
    assert(r.getAs[Double]("u_b") == 0.0)
    assert(r.getAs[Double]("z") == 1.732051)
    assert(r.getAs[Double]("effect_size_r") == 0.774597)
    // interleaved ties: U_a = U_b = n_a*n_b/2, z = 0
    val tied = (Seq(1.0, 2.0).map(("a", _)) ++
      Seq(1.0, 2.0).map(("b", _))).toDF("g", "v")
    val s = Stats.mannWhitney(tied, "g", "v", "a", "b").collect().head
    assert(s.getAs[Double]("u_a") == 2.0 && s.getAs[Double]("z") == 0.0)
  }

  test("welchTTest: hand-computed t/df/CI on unequal groups; constant " +
      "groups report NULL test columns") {
    val df = Seq(("t", 2.0), ("t", 4.0), ("c", 1.0), ("c", 3.0))
      .toDF("g", "v")
    val r = Stats.welchTTest(df, "g", "v", "t", "c").collect().head
    assert(r.getAs[Double]("mean_diff") == 1.0)
    assert(r.getAs[Double]("se_diff") == 1.414214)
    assert(r.getAs[Double]("t_stat") == 0.707107)
    assert(r.getAs[Double]("welch_df") == 2.0)
    assert(r.getAs[Double]("diff_lo") == -1.771808)
    assert(r.getAs[Double]("diff_hi") == 3.771808)
    val flat = Seq(("t", 5.0), ("t", 5.0), ("c", 5.0), ("c", 5.0))
      .toDF("g", "v")
    val f = Stats.welchTTest(flat, "g", "v", "t", "c").collect().head
    assert(f.isNullAt(f.fieldIndex("t_stat")))
  }

  test("regressionInfluence: hand-computed leverage, residuals and " +
      "Cook's D on a four-day series") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 5, 1).plusDays(i.toLong))
    val df = Seq((d(0), 1.0), (d(1), 2.0), (d(2), 2.0), (d(3), 3.0))
      .toDF("day", "v")
    val out = Stats.regressionInfluence(df, col("day"), "v").collect()
    assert(out.length == 4)
    val p1 = out.head
    assert(p1.getAs[Long]("day_index") == 1L)
    assert(p1.getAs[Double]("value") == 1.0)
    assert(p1.getAs[Double]("leverage") == 0.7)
    assert(p1.getAs[Double]("residual") == -0.1)
    assert(p1.getAs[Double]("std_resid") == -0.57735)
    assert(p1.getAs[Double]("cooks_d") == 0.388889)
    assert(!p1.getAs[Boolean]("influential"))
    val p2 = out(1)
    assert(p2.getAs[Double]("leverage") == 0.3)
    assert(p2.getAs[Double]("std_resid") == 1.133893)
    assert(p2.getAs[Double]("cooks_d") == 0.27551)
  }

  test("quadraticTrend: near-quadratic series replays the closed-form " +
      "Cramer solve; straight line scores zero curvature") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 7, 1).plusDays(i.toLong))
    val curved = Seq(0.02, 0.03, 0.07, 0.11, 0.18, 0.27).zipWithIndex
      .map { case (v, i) => (d(i), v) }.toDF("day", "v")
    val r = Stats.quadraticTrend(curved, col("day"), "v").collect().head
    assert(r.getAs[Long]("n_days") == 6L)
    assert(r.getAs[Double]("linear_slope") == 0.049714)
    assert(r.getAs[Double]("quad_linear_coef") == -0.015286)
    assert(r.getAs[Double]("quad_curvature") == 0.009286)
    assert(r.getAs[Double]("f_curvature") == 153.636364)
    assert(r.getAs[Double]("rss_ratio") == 52.212121)
    // perfectly linear: curvature 0, residual 0 -> F NULL by guard
    val line = (0 until 6).map(i => (d(i), (i + 1) * 1.0)).toDF("day", "v")
    val l = Stats.quadraticTrend(line, col("day"), "v").collect().head
    assert(l.getAs[Double]("quad_curvature") == 0.0)
    assert(l.isNullAt(l.fieldIndex("f_curvature")))
  }

  test("crosstabResiduals: hand-computed expected counts and residuals " +
      "on a 2x2 table; independent table scores 0") {
    val rows = Seq.fill(20)(("a", "c")) ++ Seq.fill(10)(("a", "d")) ++
      Seq.fill(10)(("b", "c")) ++ Seq.fill(20)(("b", "d"))
    val df = rows.toDF("x", "y")
    val r = Stats.crosstabResiduals(df, "x", "y").collect()
    assert(r.length == 4)
    val ac = r.find(c => c.getString(0) == "a" && c.getString(1) == "c").get
    assert(ac.getAs[Long]("n_obs") == 20L)
    assert(ac.getAs[Double]("expected") == 15.0)
    assert(ac.getAs[Double]("std_residual") == 1.290994)
    assert(ac.getAs[Double]("adj_residual") == 2.581989)
    val indep = (for { x <- Seq("a", "b"); y <- Seq("c", "d") }
      yield (x, y)).toDF("x", "y")
    val i = Stats.crosstabResiduals(indep, "x", "y").collect()
    assert(i.forall(_.getAs[Double]("adj_residual") == 0.0))
  }

  test("cochranQ: hand-computed three-user three-slot design; empty " +
      "hits keep the roster with NULL Q") {
    val df = Seq((1L, 0, true), (1L, 1, true), (1L, 2, true),
      (2L, 0, true), (2L, 1, false), (3L, 2, false))
      .toDF("u", "slot", "y")
    val r = Stats.cochranQ(df, "u", col("slot"), col("y"), Seq(0, 1, 2))
      .collect().head
    assert(r.getAs[Long]("n_entities") == 3L)
    assert(r.getAs[Int]("k_slots") == 3)
    assert(r.getAs[Long]("t_successes") == 4L)
    assert(r.getAs[Long]("c_0") == 2L && r.getAs[Long]("c_1") == 1L)
    assert(r.getAs[Double]("q_stat") == 2.0)
    assert(r.getAs[Int]("df") == 2)
    val none = Seq((1L, 0, false), (2L, 1, false)).toDF("u", "slot", "y")
    val z = Stats.cochranQ(none, "u", col("slot"), col("y"), Seq(0, 1))
      .collect().head
    assert(z.getAs[Long]("n_entities") == 2L)
    assert(z.isNullAt(z.fieldIndex("q_stat")))
  }

  test("chapmanEstimate: closed-form Chapman census on hand flags; " +
      "entities outside both windows don't bias the counts") {
    def t(d: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, d, 10, 0, 0))
    // A-window day 1, B-window day 5: A={1,2,3}, B={3,4}, both={3};
    // user 5 appears only outside both windows
    val df = Seq((1L, t(1)), (2L, t(1)), (3L, t(1)), (3L, t(5)),
      (4L, t(5)), (5L, t(20))).toDF("u", "ts")
    val r = Stats.chapmanEstimate(df, "u",
      col("ts") < t(2), col("ts") >= t(5) && col("ts") < t(6))
      .collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("n_both") == 1L)
    assert(r.getAs[Double]("n_hat") == 5.0)
    assert(r.getAs[Double]("se") == 1.414214)
    assert(r.getAs[Double]("n_lo") == 2.228192)
    assert(r.getAs[Double]("n_hi") == 7.771808)
  }

  test("tailDependence: comonotone data scores lambda 1 in both tails," +
      " antithetic data scores 0; exceedance counts are exact") {
    val co = (1 to 100).map(i => (i.toDouble, i.toDouble)).toDF("x", "y")
    val r = Stats.tailDependence(co, "x", "y", qs = Seq(0.9, 0.95))
      .collect()
    assert(r.length == 2)
    r.foreach { row =>
      assert(row.getAs[Double]("lambda_upper") == 1.0)
      assert(row.getAs[Double]("lambda_lower") == 1.0)
    }
    assert(r(0).getAs[Long]("n_exceed_x") == 10L) // x > q90 of 1..100
    assert(r(0).getAs[Long]("n_joint") == 10L)
    val anti = (1 to 100).map(i => (i.toDouble, 101.0 - i)).toDF("x", "y")
    Stats.tailDependence(anti, "x", "y", qs = Seq(0.9)).collect()
      .foreach { row =>
        assert(row.getAs[Double]("lambda_upper") == 0.0)
        assert(row.getAs[Double]("lambda_lower") == 0.0)
      }
  }

  test("partialCorr: matches an independent replay; conditioning on " +
      "the common driver shrinks a spurious correlation") {
    val rows = Seq((1.0, 2.0, 1.0), (2.0, 4.0, 1.0), (3.0, 5.0, 2.0),
      (4.0, 9.0, 3.0), (5.0, 8.0, 2.0))
    val df = rows.toDF("x", "y", "z")
    val r = Stats.partialCorr(df, "x", "y", "z").collect().head
    val l = rows.map { case (x, y, z) =>
      (math.round(x * 100), math.round(y * 100), math.round(z * 100)) }
    val n = l.size.toDouble
    def s(f: ((Long, Long, Long)) => Long) = l.map(f).sum.toDouble
    def s2(f: ((Long, Long, Long)) => (Long, Long)) =
      l.map(t => { val (a, b) = f(t); BigInt(a) * BigInt(b) }).sum.toDouble
    val (sx, sy, sz) = (s(_._1), s(_._2), s(_._3))
    def corr(sab: Double, sa: Double, sb: Double, saa: Double,
             sbb: Double) =
      (n * sab - sa * sb) /
        math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    val rxy = corr(s2(t => (t._1, t._2)), sx, sy,
      s2(t => (t._1, t._1)), s2(t => (t._2, t._2)))
    val rxz = corr(s2(t => (t._1, t._3)), sx, sz,
      s2(t => (t._1, t._1)), s2(t => (t._3, t._3)))
    val ryz = corr(s2(t => (t._2, t._3)), sy, sz,
      s2(t => (t._2, t._2)), s2(t => (t._3, t._3)))
    val part = (rxy - rxz * ryz) /
      math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("r_xy") == r6(rxy))
    assert(r.getAs[Double]("r_xz") == r6(rxz))
    assert(r.getAs[Double]("r_yz") == r6(ryz))
    assert(r.getAs[Double]("partial_r_xy_z") == r6(part))
    // conditioning removes part of the raw association
    assert(math.abs(r.getAs[Double]("partial_r_xy_z")) <
      math.abs(r.getAs[Double]("r_xy")))
  }

  test("seasonalMannKendall: week2 = week1 + 10 gives one concordant " +
      "pair per slot and the combined continuity-corrected z") {
    val rows = (0 until 14).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 4)
        .plusDays(i.toLong)), 10.0 + (i / 7) * 10.0)
    }.toDF("d", "v")
    val r = Stats.seasonalMannKendall(rows, col("d"), "v").collect()
    assert(r.length == 8)
    val total = r.head
    assert(total.getAs[Int]("slot") == -1)
    assert(total.getAs[Long]("n_days") == 14L)
    assert(total.getAs[Long]("s_stat") == 7L)
    assert(total.getAs[Double]("var_s") == 7.0)
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(total.getAs[Double]("z") == r6(6.0 / math.sqrt(7.0)))
    r.tail.foreach { s =>
      assert(s.getAs[Long]("n_days") == 2L)
      assert(s.getAs[Long]("s_stat") == 1L)
      assert(s.getAs[Double]("var_s") == 1.0)
      assert(s.getAs[Double]("z") == 0.0) // continuity correction: s=1
    }
  }

  test("processCapability: hand-computed Cp/Cpk; off-centering shows " +
      "up as centering_loss; constant input disables the indices") {
    val df = Seq(10.0, 20.0, 30.0).toDF("v")
    val r = Stats.processCapability(df, "v", lsl = 0.0, usl = 100.0)
      .collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("mean") == 20.0)
    assert(r.getAs[Double]("sigma") == 10.0)
    assert(r.getAs[Double]("cp") == 1.666667)
    assert(r.getAs[Double]("cpk") == 0.666667)
    assert(!r.getAs[Boolean]("capable"))
    assert(r.getAs[Double]("centering_loss") == 1.0)
    val const = Seq(5.0, 5.0, 5.0).toDF("v")
    val c = Stats.processCapability(const, "v", 0.0, 100.0).collect().head
    assert(c.isNullAt(c.fieldIndex("cp")))
  }

  test("turningPoints: zigzag counts every interior point, monotone " +
      "counts none, a plateau peak does not count (strict extrema)") {
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 9, 1)
        .plusDays(i.toLong)), v)
    }.toDF("d", "v")
    val zig = Stats.turningPoints(
      mk(Seq(1, 3, 1, 3, 1, 3, 1).map(_.toDouble)), col("d"), "v")
      .collect().head
    assert(zig.getAs[Long]("n_days") == 7L)
    assert(zig.getAs[Long]("n_turning") == 5L)
    // E = 2*5/3, Var = (16*7-29)/90
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(zig.getAs[Double]("expected") == r6(10.0 / 3.0))
    assert(zig.getAs[Double]("z_stat") ==
      r6((5.0 - 10.0 / 3.0) / math.sqrt(83.0 / 90.0)))
    val mono = Stats.turningPoints(
      mk((1 to 7).map(_.toDouble)), col("d"), "v").collect().head
    assert(mono.getAs[Long]("n_turning") == 0L)
    // 1,2,2,1: the plateau (2,2) is not a strict peak
    val plateau = Stats.turningPoints(
      mk(Seq(1.0, 2.0, 2.0, 1.0)), col("d"), "v").collect().head
    assert(plateau.getAs[Long]("n_turning") == 0L)
  }

  test("chowTest: recovers both planted slopes and matches an " +
      "independent F computation; a continuous trend scores F near 0") {
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 2, 1)
        .plusDays(i.toLong)), v)
    }.toDF("d", "v")
    // pre (t=1..5): 10 + t; post (t=6..10): 100 + 5t — a clear break
    val vals = (1 to 5).map(t => 10.0 + t) ++ (6 to 10).map(t => 100.0 + 5 * t)
    val r = Stats.chowTest(mk(vals), col("d"), "v", "2024-02-06")
      .collect().head
    assert(r.getAs[Long]("n_pre") == 5L && r.getAs[Long]("n_post") == 5L)
    assert(r.getAs[Double]("slope_pre") == 1.0)
    assert(r.getAs[Double]("slope_post") == 5.0)
    // exact-fit segments -> RSS1 = RSS2 = 0 -> the guard nulls F
    assert(r.isNullAt(r.fieldIndex("f_stat")))
    // noisy segments: independent replay of the F ratio
    val noisy = Seq(11.0, 12.5, 12.8, 14.2, 15.1, 118.0, 125.5, 128.1,
      136.0, 140.2)
    val rn = Stats.chowTest(mk(noisy), col("d"), "v", "2024-02-06")
      .collect().head
    val y = noisy.map(v => math.round(v * 100))
    def seg(ts: Seq[Int]): (Double, Double) = {
      val n = ts.size.toDouble
      val st = ts.map(_.toLong).sum.toDouble
      val sy = ts.map(t => y(t - 1)).sum.toDouble
      val sty = ts.map(t => t.toLong * y(t - 1)).sum.toDouble
      val stt = ts.map(t => t.toLong * t).sum.toDouble
      val syy = ts.map(t => BigInt(y(t - 1)) * BigInt(y(t - 1))).sum.toDouble
      val cyy = syy - sy * sy / n
      val cty = sty - st * sy / n
      val ctt = stt - st * st / n
      (cyy - cty * cty / ctt, cty / ctt)
    }
    val (r1, _) = seg(1 to 5); val (r2, _) = seg(6 to 10)
    val (rp, _) = seg(1 to 10)
    val fExp = ((rp - r1 - r2) / 2.0) / ((r1 + r2) / (10.0 - 4.0))
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rn.getAs[Double]("f_stat") == r6(fExp))
    assert(rn.getAs[Double]("f_stat") > 10.0) // the break is real
    // one continuous line, split arbitrarily: F ~ 0
    val line = (1 to 10).map(t => 50.0 + 3 * t + (if (t % 2 == 0) 0.3 else -0.3))
    val rl = Stats.chowTest(mk(line), col("d"), "v", "2024-02-06")
      .collect().head
    assert(rl.getAs[Double]("f_stat") < 1.5)
  }

  test("negbinFit: moment estimators on hand-computed counts; " +
      "underdispersed data disables the NB parameters") {
    def events(counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (k, u) => Seq.fill(k)(u.toLong)
    }.toDF("user_id")
    // k = 1,1,1,9: m = 3, v = 21 - 9 = 12 -> r = 9/9 = 1, p = 0.25
    val over = Stats.negbinFit(events(Seq(1, 1, 1, 9)), "user_id")
      .collect().head
    assert(over.getAs[Long]("n_keys") == 4L)
    assert(over.getAs[Double]("mean_count") == 3.0)
    assert(over.getAs[Double]("var_count") == 12.0)
    assert(over.getAs[Double]("dispersion") == 4.0)
    assert(over.getAs[Boolean]("overdispersed"))
    assert(over.getAs[Double]("nb_r") == 1.0)
    assert(over.getAs[Double]("nb_p") == 0.25)
    // k = 1,2,3,2: v = 0.5 < m = 2 -> NB params null
    val under = Stats.negbinFit(events(Seq(1, 2, 3, 2)), "user_id")
      .collect().head
    assert(under.getAs[Double]("dispersion") == 0.25)
    assert(!under.getAs[Boolean]("overdispersed"))
    assert(under.isNullAt(under.fieldIndex("nb_r")))
  }

  test("controlChart: hand-computed Shewhart limits flag both shifted " +
      "weeks; the partial trailing week is dropped") {
    // 2024-01-04 opens an epoch-aligned week (epoch day 19726 = 2818*7)
    val start = java.time.LocalDate.of(2024, 1, 4)
    val rows = (0 until 14).map { i =>
      (java.sql.Date.valueOf(start.plusDays(i.toLong)),
        (i % 7 + 1 + (i / 7) * 7).toDouble) // week1: 1..7, week2: 8..14
    } :+ (java.sql.Date.valueOf(start.plusDays(14L)), 100.0)
    val df = rows.toDF("d", "v")
    val r = Stats.controlChart(df, col("d"), "v").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Double]("week_mean") == 4.0)
    assert(r(1).getAs[Double]("week_mean") == 11.0)
    assert(r(0).getAs[Double]("week_range") == 6.0)
    assert(r(0).getAs[Double]("grand_mean") == 7.5)
    // UCL = 7.5 + 0.419*6 = 10.014, LCL = 4.986: both weeks breach
    assert(r(0).getAs[Double]("ucl_mean") == 10.014)
    assert(r(0).getAs[Double]("lcl_mean") == 4.986)
    assert(r(0).getAs[Boolean]("mean_out") && r(1).getAs[Boolean]("mean_out"))
    assert(!r(0).getAs[Boolean]("range_out") &&
      !r(1).getAs[Boolean]("range_out"))
  }

  test("gumbelMaxima: L-moment closed forms over four hand-placed " +
      "weekly maxima match an independent computation") {
    // one order per week -> weekly maxima exactly 1,2,3,4 dollars
    val df = Seq(1, 2, 3, 4).zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(7L * i)), v.toDouble)
    }.toDF("d", "v")
    val r = Stats.gumbelMaxima(df, col("d"), "v").collect().head
    assert(r.getAs[Long]("n_blocks") == 4L)
    // centi maxima 100..400: b0 = 250, srm = 0*100+1*200+2*300+3*400
    val b0 = 250.0
    val b1 = 2000.0 / (4.0 * 3.0)
    val scale = (2.0 * b1 - b0) / 0.6931471805599453
    val loc = b0 - 0.5772156649015329 * scale
    val ret = loc - scale * math.log(-math.log(1.0 - 1.0 / 52.0))
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("block_mean") == 2.5)
    assert(r.getAs[Double]("gumbel_loc") == r6(loc / 100.0))
    assert(r.getAs[Double]("gumbel_scale") == r6(scale / 100.0))
    assert(r.getAs[Double]("ret_level_52w") == r6(ret / 100.0))
    // a once-a-year level must sit far above the block mean
    assert(r.getAs[Double]("ret_level_52w") > 4.0)
  }

  test("haarEnergy: hand-computed band energies and common-denominator " +
      "shares; the trailing partial block is dropped at every level") {
    val vals = Seq(1.0, 3.0, 2.0, 2.0, 5.0, 1.0, 4.0, 4.0, 7.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(f"2024-08-${i + 1}%02d"), v)
    }.toDF("d", "v")
    val r = Stats.haarEnergy(df, col("d"), "v", levels = 3).collect()
    assert(r.length == 3)
    // centi series 100,300,200,200,500,100,400,400 (day 9 drops)
    // L1 details -200,0,400,0 -> E 200000/4; L2: 0,-200 -> 40000/16;
    // L3: 800-1400 = -600 -> 360000/64
    assert(r(0).getAs[Long]("n_blocks") == 4L)
    assert(r(0).getAs[Double]("band_energy") == 50000.0)
    assert(r(1).getAs[Long]("n_blocks") == 2L)
    assert(r(1).getAs[Double]("band_energy") == 2500.0)
    assert(r(2).getAs[Long]("n_blocks") == 1L)
    assert(r(2).getAs[Double]("band_energy") == 5625.0)
    // shares over the 4^3 common denominator: 3.2M / 160k / 360k of 3.72M
    assert(r(0).getAs[Double]("band_share") == 0.860215)
    assert(r(1).getAs[Double]("band_share") == 0.043011)
    assert(r(2).getAs[Double]("band_share") == 0.096774)
  }

  test("signTest: exact binomial two-sided p from hand-countable " +
      "paired days; ties drop; all-positive run hits the dyadic floor") {
    // lag 1 over 6 days: diffs + - + + - -> pos 3, neg 2, m = 2
    // p = 2 * (C(5,0)+C(5,1)+C(5,2)) / 2^5 = 2 * 16/32 = 1.0
    val vals = Seq(10.0, 12.0, 11.0, 13.0, 14.0, 9.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(f"2024-05-${i + 1}%02d"), v)
    }.toDF("d", "v")
    val r = Stats.signTest(df, col("d"), "v", lagK = 1).collect().head
    assert(r.getAs[Long]("n_obs") == 5L)
    assert(r.getAs[Long]("n_pos") == 3L && r.getAs[Long]("n_neg") == 2L)
    assert(r.getAs[Long]("n_ties") == 0L)
    assert(r.getAs[Double]("sign_p") == 1.0)
    // strictly increasing 9 days: 8 pos, 0 neg -> p = 2 * 2^-8 = 0.007813
    val inc = (1 to 9).map(i =>
      (java.sql.Date.valueOf(f"2024-06-$i%02d"), i.toDouble)).toDF("d", "v")
    val ri = Stats.signTest(inc, col("d"), "v", lagK = 1).collect().head
    assert(ri.getAs[Long]("n_pos") == 8L)
    assert(ri.getAs[Double]("sign_p") == 0.007813)
    // a tie is dropped from n but reported
    val tie = Seq(1.0, 1.0, 2.0).zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(f"2024-07-${i + 1}%02d"), v)
    }.toDF("d", "v")
    val rt = Stats.signTest(tie, col("d"), "v", lagK = 1).collect().head
    assert(rt.getAs[Long]("n_ties") == 1L && rt.getAs[Long]("n_pos") == 1L)
    assert(rt.getAs[Double]("sign_p") == 1.0)
  }

  test("whiteTest: matches an independent replay of the auxiliary " +
      "e2-on-(x, x2) regression and its LM statistic") {
    val prices = Seq(
      1 -> Seq(12.0), 2 -> Seq(10.0, 15.5), 3 -> Seq(11.0),
      4 -> Seq(12.0, 12.0, 12.0), 5 -> Seq(10.0, 14.0), 6 -> Seq(13.0),
      7 -> Seq(11.0, 12.0, 12.0), 8 -> Seq(13.0, 13.0))
    val df = prices.flatMap { case (day, ps) =>
      ps.map(p => (java.sql.Date.valueOf(f"2024-03-$day%02d"), p))
    }.toDF("d", "v")
    val r = Stats.whiteTest(df, col("d"), "v").collect().head
    val xs = prices.map(_._2.size.toLong)
    val ys = prices.map(_._2.map(p => math.round(p * 100)).sum)
    val n = xs.size.toDouble
    val (sx, sy) = (xs.sum.toDouble, ys.sum.toDouble)
    val sxy = xs.zip(ys).map(p => p._1 * p._2).sum.toDouble
    val sxx = xs.map(x => x * x).sum.toDouble
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
    val e2 = xs.zip(ys).map { case (x, y) =>
      BigDecimal((y.toDouble - a - b * x) / 100.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val z = e2.map(e => BigInt(e) * BigInt(e))
    val ax = sx; val ax2 = sxx
    val ax3 = xs.map(x => BigInt(x).pow(3)).sum.toDouble
    val ax4 = xs.map(x => BigInt(x).pow(4)).sum.toDouble
    val az = z.sum.toDouble
    val az1 = z.zip(xs).map(p => p._1 * p._2).sum.toDouble
    val az2 = z.zip(xs).map(p => p._1 * p._2 * p._2).sum.toDouble
    val azz = z.map(v => v * v).sum.toDouble
    val czz = azz - az * az / n
    val cz1 = az1 - az * ax / n
    val cz2 = az2 - az * ax2 / n
    val c11 = ax2 - ax * ax / n
    val c12 = ax3 - ax * ax2 / n
    val c22 = ax4 - ax2 * ax2 / n
    val det = c11 * c22 - c12 * c12
    val b1 = (cz1 * c22 - cz2 * c12) / det
    val b2 = (cz2 * c11 - cz1 * c12) / det
    val r2 = (b1 * cz1 + b2 * cz2) / czz
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n_days") == 8L)
    assert(r.getAs[Double]("r2_aux") == r6(r2))
    assert(r.getAs[Double]("lm_stat") == r6(n * r2))
    assert(r.getAs[Boolean]("heteroskedastic") ==
      (n * r2 > 5.991464547107979))
  }

  test("cointegration: matches an independent replay of the two-stage " +
      "Engle-Granger computation; exact-fit residuals disable the test") {
    val prices = Seq(
      1 -> Seq(12.0), 2 -> Seq(10.0, 15.5), 3 -> Seq(11.0),
      4 -> Seq(12.0, 12.0, 12.0), 5 -> Seq(10.0, 14.0), 6 -> Seq(13.0),
      7 -> Seq(11.0, 12.0, 12.0), 8 -> Seq(13.0, 13.0))
    val df = prices.flatMap { case (day, ps) =>
      ps.map(p => (java.sql.Date.valueOf(f"2024-03-$day%02d"), p))
    }.toDF("d", "v")
    val r = Stats.cointegration(df, col("d"), "v").collect().head
    // independent replay over the same lattice
    val xs = prices.map(_._2.size.toLong)
    val ys = prices.map(_._2.map(p => math.round(p * 100)).sum)
    val n = xs.size.toDouble
    val (sx, sy) = (xs.sum.toDouble, ys.sum.toDouble)
    val sxy = xs.zip(ys).map(p => p._1 * p._2).sum.toDouble
    val sxx = xs.map(x => x * x).sum.toDouble
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
    val eu = xs.zip(ys).map { case (x, y) =>
      BigDecimal((y.toDouble - a - b * x) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val (e1, de) = (eu.dropRight(1), eu.drop(1).zip(eu.dropRight(1))
      .map(p => p._1 - p._2))
    val s1 = e1.map(e => e * e).sum.toDouble
    val s2 = e1.zip(de).map(p => p._1 * p._2).sum.toDouble
    val s3 = de.map(e => e * e).sum.toDouble
    val np = e1.size.toDouble
    val gamma = s2 / s1
    val rss = s3 - s2 * s2 / s1
    val adf = gamma / math.sqrt((rss / (np - 1.0)) / s1)
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n_days") == 8L && r.getAs[Long]("n_pairs") == 7L)
    assert(r.getAs[Double]("beta") == r6(b))
    assert(r.getAs[Double]("gamma") == r6(gamma))
    assert(r.getAs[Double]("adf_t") == r6(adf))
    assert(r.getAs[Boolean]("cointegrated") == (adf < -3.37))
    // exact fit y = 1000x: zero residuals -> s1 = 0 -> screen disabled
    val exact = Seq(1 -> 1, 2 -> 2, 3 -> 1, 4 -> 3, 5 -> 2).flatMap {
      case (day, k) => (1 to k).map(_ =>
        (java.sql.Date.valueOf(f"2024-04-$day%02d"), 10.0))
    }.toDF("d", "v")
    val e = Stats.cointegration(exact, col("d"), "v").collect().head
    assert(e.getAs[Double]("beta") == 1000.0)
    assert(e.isNullAt(e.fieldIndex("gamma")))
    assert(e.isNullAt(e.fieldIndex("cointegrated")))
  }

  test("hosmerLemeshow: hand-computed chi2 terms over three bins; the " +
      "flag stays NULL off the df=8 critical literal") {
    def rows(score: Double, n: Int, k: Int) =
      (0 until n).map(i => (score, i < k))
    val df = (rows(0.1, 4, 1) ++ rows(0.5, 4, 2) ++ rows(0.9, 4, 4))
      .toDF("score", "pos")
    val r = Stats.hosmerLemeshow(df, "score", col("pos"), bins = 3)
      .collect().head
    assert(r.getAs[Long]("n_bins") == 3L && r.getAs[Long]("n_rows") == 12L)
    assert(r.getAs[Long]("df") == 1L)
    // terms: (1-.4)^2/(.4*.9) = 1; 0; (4-3.6)^2/(3.6*.1) = 4/9
    assert(r.getAs[Double]("hl_stat") == 1.444444)
    assert(r.isNullAt(r.fieldIndex("miscalibrated")))
    // perfectly calibrated bins: HL exactly 0
    val cal = (rows(0.25, 4, 1) ++ rows(0.5, 4, 2) ++ rows(0.75, 4, 3))
      .toDF("score", "pos")
    val c = Stats.hosmerLemeshow(cal, "score", col("pos"), bins = 3)
      .collect().head
    assert(c.getAs[Double]("hl_stat") == 0.0)
  }

  test("isotonicCalibration: pools the adjacent violator pair exactly " +
      "as hand-run PAVA; already-monotone input is returned unchanged") {
    // bins (n, k): bin0 (2, 1) rate .5 > bin1 (5, 1) rate .2 -> pool to
    // 2/7; bin2 (5, 2) rate .4 stays
    def rows(score: Double, n: Int, k: Int) =
      (0 until n).map(i => (score, i < k))
    val df = (rows(0.1, 2, 1) ++ rows(0.4, 5, 1) ++ rows(0.8, 5, 2))
      .toDF("score", "pos")
    val r = Stats.isotonicCalibration(df, "score", col("pos"), bins = 3)
      .collect()
    assert(r.map(_.getAs[Int]("bin")).toSeq == Seq(0, 1, 2))
    assert(r(0).getAs[Double]("raw_rate") == 0.5)
    assert(r(0).getAs[Double]("iso_rate") == 0.285714)
    assert(r(1).getAs[Double]("iso_rate") == 0.285714)
    assert(r(2).getAs[Double]("iso_rate") == 0.4)
    // monotone input passes through: rates .2 < .4 < .6
    val mono = (rows(0.1, 5, 1) ++ rows(0.4, 5, 2) ++ rows(0.8, 5, 3))
      .toDF("score", "pos")
    val m = Stats.isotonicCalibration(mono, "score", col("pos"), bins = 3)
      .collect()
    assert(m.map(_.getAs[Double]("iso_rate")).toSeq == Seq(0.2, 0.4, 0.6))
    assert(m.map(_.getAs[Double]("raw_rate")).toSeq ==
      m.map(_.getAs[Double]("iso_rate")).toSeq)
  }

  test("pacf: matches an independent Durbin-Levinson computation; " +
      "perfectly-correlated series degrades to null pacf at lag 2") {
    val vals = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 5.0, 8.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), v)
    }.toDF("d", "v")
    val r = Stats.pacf(df, col("d"), "v").collect()
    assert(r.length == 3)
    // independent computation over the same centi-lattice pairs
    val y = vals.map(v => math.round(v * 100))
    def rk(k: Int): Double = {
      val pairs = y.drop(k).zip(y.dropRight(k))
      val n = pairs.size.toDouble
      val sa = pairs.map(_._1).sum.toDouble
      val sb = pairs.map(_._2).sum.toDouble
      val saa = pairs.map(p => p._1 * p._1).sum.toDouble
      val sab = pairs.map(p => p._1 * p._2).sum.toDouble
      val sbb = pairs.map(p => p._2 * p._2).sum.toDouble
      (n * sab - sa * sb) /
        math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    }
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (r1, r2, r3) = (rk(1), rk(2), rk(3))
    val p22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    val p21 = r1 - p22 * r1
    val p33 = (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2)
    assert(r(0).getAs[Long]("n_pairs") == 7L)
    assert(r(0).getAs[Double]("acf") == r6(r1))
    assert(r(0).getAs[Double]("pacf") == r6(r1))
    assert(r(1).getAs[Double]("acf") == r6(r2))
    assert(r(1).getAs[Double]("pacf") == r6(p22))
    assert(r(2).getAs[Double]("pacf") == r6(p33))
    // a linear ramp: r1 = 1 exactly -> the lag-2 denominator vanishes
    val ramp = (1 to 6).map(i =>
      (java.sql.Date.valueOf(f"2024-02-$i%02d"), i.toDouble)).toDF("d", "v")
    val rr = Stats.pacf(ramp, col("d"), "v").collect()
    assert(rr(0).getAs[Double]("acf") == 1.0)
    assert(rr(1).isNullAt(rr(1).fieldIndex("pacf")))
  }

  test("inequalityRatios: hand-computed shares over values 1..10") {
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("e", "v")
    val r = Stats.inequalityRatios(df, "e", "v").collect().head
    assert(r.getAs[Long]("n_entities") == 10L)
    assert(r.getAs[Double]("total_value") == 55.0)
    // bottom 5 of 10 entities carry 1+2+3+4+5 = 15 of 55
    assert(r.getAs[Double]("bottom50_share") == 0.272727)
    // top decile = rank 10 only -> 10 of 55; top-1% cutoff (99*10)//100
    // = 9 also isolates rank 10
    assert(r.getAs[Double]("top10_share") == 0.181818)
    assert(r.getAs[Double]("top1_share") == 0.181818)
    // palma: top-10% value 10 over bottom-40% value 1+2+3+4 = 10
    assert(r.getAs[Double]("palma_ratio") == 1.0)
    // s80/s20: (9+10) over (1+2)
    assert(r.getAs[Double]("s80s20_ratio") == 6.333333)
  }

  test("wilsonIntervals: closed-form bound at n=2, k=1; symmetric " +
      "center at p=0.5; zero-conversion cohort stays in [0,1]") {
    val df = Seq((2L, "purchase"), (2L, "view"), (4L, "view"),
      (1L, "view"), (3L, "view")).toDF("u", "et")
    val r = Stats.wilsonIntervals(df, pmod(col("u"), lit(2L)), "u",
      col("et") === "purchase").collect()
    assert(r.length == 2)
    val even = r.find(_.getAs[Long]("segment") == 0L).get
    assert(even.getAs[Long]("n_users") == 2L)
    assert(even.getAs[Long]("n_converted") == 1L)
    assert(even.getAs[Double]("rate") == 0.5)
    val z = 1.959963984540054; val z2 = z * z; val nd = 2.0; val p = 0.5
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val center = (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd)
    val half = z * math.sqrt((p * (1.0 - p) + z2 / (4.0 * nd)) / nd) /
      (1.0 + z2 / nd)
    assert(even.getAs[Double]("wilson_lo") == r6(center - half))
    assert(even.getAs[Double]("wilson_hi") == r6(center + half))
    val odd = r.find(_.getAs[Long]("segment") == 1L).get
    assert(odd.getAs[Long]("n_converted") == 0L)
    assert(odd.getAs[Double]("wilson_lo") >= 0.0)
    assert(odd.getAs[Double]("wilson_hi") <= 1.0 &&
      odd.getAs[Double]("wilson_hi") > 0.0)
  }

  test("lorenzCurve: hand-computed two-decile shares and diagonal gaps") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("e", "v")
    val r = Stats.lorenzCurve(df, "e", "v", deciles = 2).collect()
    assert(r.length == 2)
    val d1 = r.head
    assert(d1.getAs[Long]("n_entities") == 2L)
    assert(d1.getAs[Double]("decile_value") == 3.0)
    assert(d1.getAs[Double]("cum_entity_share") == 0.5)
    assert(d1.getAs[Double]("cum_value_share") == 0.3)
    assert(d1.getAs[Double]("equality_gap") == 0.2)
    val d2 = r(1)
    assert(d2.getAs[Double]("cum_entity_share") == 1.0)
    assert(d2.getAs[Double]("cum_value_share") == 1.0)
    assert(d2.getAs[Double]("equality_gap") == 0.0)
  }

  test("ljungBox: a linear trend pins every rho to 1 and Q to the " +
      "closed form; short series refused") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 1, 1).plusDays(i.toLong))
    val lin = (0 until 30).map(i => (d(i), (i + 1).toDouble)).toDF("b", "v")
    val out = graft.ops.Stats.ljungBox(lin, col("b"), "v", maxLag = 2)
      .collect().head
    assert(out.getAs[Long]("n_buckets") == 30L)
    assert(out.getAs[Long]("lags_used") == 2L)
    val qm = math.round(1.0 / 28 * 1e12) + math.round(1.0 / 29 * 1e12)
    val expected = BigDecimal(960.0 * (qm / 1e12))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Double]("q_stat") == expected)
    intercept[IllegalArgumentException] {
      graft.ops.Stats.ljungBox(lin.limit(2), col("b"), "v", maxLag = 2)
    }
  }

  test("durbinWatson: alternating residuals hit the closed form near " +
      "4; an exact linear trend has zero residuals and a NULL statistic") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 1, 1).plusDays(i.toLong))
    val alt = Seq(100.0, 0.0, 100.0, 0.0).zipWithIndex
      .map { case (v, i) => (d(i), v) }.toDF("b", "v")
    val r = graft.ops.Stats.durbinWatson(alt, col("b"), "v")
      .collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    // residuals (2000,-6000,6000,-2000) micro-cents -> DW = 272/80
    assert(r.getAs[Double]("dw_stat") == 3.4)
    assert(r.getAs[Double]("rho_approx") == -0.7)
    val line = (0 until 5).map(i => (d(i), (i + 1).toDouble)).toDF("b", "v")
    val l = graft.ops.Stats.durbinWatson(line, col("b"), "v")
      .collect().head
    assert(l.isNullAt(l.fieldIndex("dw_stat")))
  }

  test("weightedMedian: a heavy weight drags the median to its value " +
      "where the unweighted median would sit elsewhere") {
    // values 1,2,3 with weights 1,1,4: cum 1,2,6 vs total 6 -> first
    // 2*cum >= 6 is value 2... 2*2=4 < 6, so value 3 is elected
    val df = Seq(("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 4.0),
      ("b", 5.0, 1.0)).toDF("g", "v", "w")
    val out = graft.ops.Stats.weightedMedian(df, "g", "v", "w")
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("total_weight"), r.getAs[Double]("weighted_median")))
      .toMap
    assert(out("a") == ((6L, 3.0)))
    assert(out("b") == ((1L, 5.0)))
    // equal weights: the boundary 2*cum == total elects the LOWER median
    val even = Seq(("c", 1.0, 1.0), ("c", 2.0, 1.0)).toDF("g", "v", "w")
    val e = graft.ops.Stats.weightedMedian(even, "g", "v", "w")
      .collect().head
    assert(e.getAs[Double]("weighted_median") == 1.0)
  }

  test("cliffsDelta: full dominance scores +1, symmetric overlap 0, " +
      "and ties split p_superior") {
    val dom = (Seq(10.0, 11.0).map(("a", _)) ++
      Seq(1.0, 2.0).map(("b", _))).toDF("g", "v")
    val d = graft.ops.Stats.cliffsDelta(dom, "g", "v", "a", "b")
      .collect().head
    assert(d.getAs[Long]("n_greater") == 4L &&
      d.getAs[Long]("n_less") == 0L)
    assert(d.getAs[Double]("cliffs_delta") == 1.0)
    assert(d.getAs[Double]("p_superior") == 1.0)
    // a = {1, 3}, b = {2}: one win, one loss -> delta 0, P = 0.5
    val sym = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0)).toDF("g", "v")
    val s = graft.ops.Stats.cliffsDelta(sym, "g", "v", "a", "b")
      .collect().head
    assert(s.getAs[Double]("cliffs_delta") == 0.0)
    assert(s.getAs[Double]("p_superior") == 0.5)
    // all tied: delta 0 via the tie path, P still 0.5
    val tie = Seq(("a", 5.0), ("b", 5.0)).toDF("g", "v")
    val t = graft.ops.Stats.cliffsDelta(tie, "g", "v", "a", "b")
      .collect().head
    assert(t.getAs[Long]("n_ties") == 1L &&
      t.getAs[Double]("p_superior") == 0.5)
  }

  test("friedman: perfectly consistent day rankings score Kendall's W " +
      "= 1 and the closed-form chi2; incomplete blocks are excluded") {
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, day).atTime(h, 0))
    // 3 complete days with a > b; day 4 has only a -> excluded
    val rows = (1 to 3).flatMap(d =>
      Seq((ts(d, 1), "a", 10.0), (ts(d, 2), "b", 5.0))) :+
      ((ts(4, 1), "a", 99.0))
    val df = rows.toDF("ts", "g", "v")
    val r = graft.ops.Stats.friedman(df, to_date(col("ts")), "g", "v",
      Seq("a", "b")).collect().head
    assert(r.getAs[Long]("n_days") == 3L)
    assert(r.getAs[Long]("ranksum2_a") == 12L)
    assert(r.getAs[Long]("ranksum2_b") == 6L)
    // chi2 = 3/(3*2*3) * (144 + 36) - 3*3*3 = 3
    assert(r.getAs[Double]("chi2_f") == 3.0)
    assert(r.getAs[Double]("kendalls_w") == 1.0)
    intercept[IllegalArgumentException] {
      graft.ops.Stats.friedman(df, to_date(col("ts")), "g", "v",
        Seq("a", "b", "c"))
    }
  }

  test("runsTest: a perfect alternation hits the closed form, a " +
      "constant series yields no moves and a NULL z") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 1, 1).plusDays(i.toLong))
    val alt = Seq(10.0, 20.0, 10.0, 20.0, 10.0).zipWithIndex
      .map { case (v, i) => (d(i), v) }.toDF("b", "v")
    val r = graft.ops.Stats.runsTest(alt, col("b"), "v").collect().head
    assert(r.getAs[Long]("n_up") == 2L && r.getAs[Long]("n_down") == 2L)
    assert(r.getAs[Long]("n_runs") == 4L)
    assert(r.getAs[Double]("expected_runs") == 3.0)
    // z = (4 - 3) / sqrt(2/3)
    assert(r.getAs[Double]("z_stat") == 1.224745)
    val flat = (0 until 5).map(i => (d(i), 7.0)).toDF("b", "v")
    val f = graft.ops.Stats.runsTest(flat, col("b"), "v").collect().head
    assert(f.getAs[Long]("n_runs") == 0L &&
      f.isNullAt(f.fieldIndex("z_stat")))
  }

  test("jarqueBera: a symmetric two-point mass scores skew 0, excess " +
      "kurtosis -2, and the closed-form JB") {
    val df = Seq(0.0, 2.0, 0.0, 2.0).toDF("value")
    val r = graft.ops.Stats.jarqueBera(df, "value").collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("mean") == 1.0)
    assert(r.getAs[Double]("skewness") == 0.0)
    assert(r.getAs[Double]("excess_kurtosis") == -2.0)
    assert(r.getAs[Double]("jb_stat") == 0.666667) // 4/6 * (0 + 4/4)
    // constant column: zero variance nulls the statistic
    val c = graft.ops.Stats.jarqueBera(
      Seq(5.0, 5.0).toDF("value"), "value").collect().head
    assert(c.isNullAt(c.fieldIndex("jb_stat")))
  }

  test("hillTail: the estimator replays the latticed log-ratio fold " +
      "exactly; short rosters are refused") {
    val df = Seq((1L, 7.39), (2L, 2.72), (3L, 1.00)).toDF("e", "v")
    val out = graft.ops.Stats.hillTail(df, "e", "v", k = 2)
      .collect().head
    assert(out.getAs[Long]("n_entities") == 3L)
    assert(out.getAs[Double]("xmin") == 1.0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ts = math.round(math.log(739.0 / 100.0) * 1e12) +
      math.round(math.log(272.0 / 100.0) * 1e12)
    val alphaRaw = 2.0 / (ts.toDouble / 1e12)
    assert(out.getAs[Double]("alpha") == r6(alphaRaw))
    assert(out.getAs[Double]("alpha_se") == r6(alphaRaw / math.sqrt(2.0)))
    intercept[IllegalArgumentException] {
      graft.ops.Stats.hillTail(df, "e", "v", k = 3)
    }
  }

  test("stickiness: fan-out MAU counts window-active users exactly and " +
      "inactive days never appear") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, day).atTime(12, 0))
    val df = Seq((1L, ts(1)), (1L, ts(2)), (2L, ts(1)))
      .toDF("user_id", "ts")
    val out = graft.ops.Stats.stickiness(df, "user_id", "ts",
      windowDays = 2).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("mau"),
          r.getAs[Double]("stickiness")))
    assert(out.toSeq == Seq(
      "2024-01-01" -> ((2L, 2L, 1.0)),
      "2024-01-02" -> ((1L, 2L, 0.5))))
    intercept[IllegalArgumentException] {
      graft.ops.Stats.stickiness(df, "user_id", "ts", windowDays = 0)
    }
  }

  test("abcClassification: exact integer boundaries put the 80/15/5 " +
      "split on the class edges, bad cuts fail loud") {
    val df = Seq((1L, 80.0), (2L, 15.0), (3L, 5.0)).toDF("k", "v")
    val out = graft.ops.Stats.abcClassification(df, "k", "v")
      .collect()
      .map(r => r.getAs[String]("abc_class") ->
        (r.getAs[Long]("n_keys"), r.getAs[Double]("class_revenue"),
          r.getAs[Double]("revenue_share"))).toMap
    // cum shares hit the cut boundaries exactly: 80 <= 80 -> A,
    // 95 <= 95 -> B, tail -> C
    assert(out("A") == ((1L, 80.0, 0.8)))
    assert(out("B") == ((1L, 15.0, 0.15)))
    assert(out("C") == ((1L, 5.0, 0.05)))
    intercept[IllegalArgumentException] {
      graft.ops.Stats.abcClassification(df, "k", "v", cutA = 95, cutB = 80)
    }
  }

  test("kendallTau: monotone-with-one-tie hits the closed-form tau-b, " +
      "non-integral aggregates are refused") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 1, 1).plusDays(i.toLong))
    val df = Seq((d(1), 1L, 1L), (d(2), 2L, 2L), (d(3), 2L, 3L),
      (d(4), 3L, 4L)).toDF("b", "x", "y")
    val r = graft.ops.Stats.kendallTau(df, col("b"),
      min(col("x")).cast("long"), min(col("y")).cast("long"))
      .collect().head
    assert(r.getAs[Long]("n_pairs") == 6L)
    assert(r.getAs[Long]("concordant") == 5L &&
      r.getAs[Long]("discordant") == 0L)
    assert(r.getAs[Long]("ties_x") == 1L && r.getAs[Long]("ties_y") == 0L)
    // 5 / sqrt(5 * 6)
    assert(r.getAs[Double]("tau_b") == 0.912871)
    intercept[IllegalArgumentException] {
      graft.ops.Stats.kendallTau(df, col("b"),
        min(col("x")).cast("double"), min(col("y")).cast("long"))
    }
  }

  test("interArrival: gaps fold exactly in microseconds, CV hits the " +
      "closed form, single-event entities are excluded") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val df = Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(30)), (2L, ts(5)))
      .toDF("user_id", "ts")
    val out = graft.ops.Stats.interArrival(df, "user_id", "ts").collect()
    assert(out.length == 1) // user 2 has no gap
    val r = out.head
    assert(r.getAs[Long]("n_gaps") == 2L)
    assert(r.getAs[Double]("mean_gap_s") == 15.0)
    assert(r.getAs[Double]("min_gap_s") == 10.0)
    assert(r.getAs[Double]("max_gap_s") == 20.0)
    // gaps (10, 20): sd = 5, mean = 15 -> CV = 1/3
    assert(r.getAs[Double]("cv") == 0.333333)
  }

  test("hurstRS: a period-2 alternation is perfectly anti-persistent " +
      "(R/S = 1 at every scale, H = 0), a ramp is persistent, short " +
      "series refused") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 1, 1).plusDays(i.toLong))
    val alt = (0 until 32).map(i => (d(i), if (i % 2 == 0) 0.0 else 1.0))
      .toDF("b", "v")
    val a = graft.ops.Stats.hurstRS(alt, col("b"), "v", Seq(4, 8))
      .collect()
    assert(a.map(_.getAs[Long]("block_m")).toSeq == Seq(4L, 8L))
    assert(a.forall(_.getAs[Double]("rs_mean") == 1.0))
    assert(a.forall(_.getAs[Double]("hurst") == 0.0))
    assert(a.head.getAs[Long]("n_blocks") == 8L)
    val ramp = (0 until 32).map(i => (d(i), i.toDouble)).toDF("b", "v")
    val r = graft.ops.Stats.hurstRS(ramp, col("b"), "v", Seq(4, 8))
      .collect().head
    assert(r.getAs[Double]("hurst") > 0.9)
    intercept[IllegalArgumentException] {
      graft.ops.Stats.hurstRS(alt.limit(10), col("b"), "v", Seq(4, 8))
    }
  }

  test("burstiness: constant days score Fano 0, a burst inflates it, " +
      "zero-activity days never enter") {
    def ts(d: Int, i: Int) = java.sql.Timestamp
      .valueOf(f"2024-01-$d%02d 0$i:00:00")
    // u1: 2 events on each of 3 days; u2: 1 then 5 (gap day untouched)
    val rows = (Seq(1, 2, 3).flatMap(d => Seq((1L, ts(d, 1)),
      (1L, ts(d, 2)))) ++
      Seq((2L, ts(1, 1))) ++ (1 to 5).map(i => (2L, ts(9, i))))
      .toDF("user_id", "ts")
    val out = graft.ops.Stats.burstiness(rows, "user_id", "ts")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 6L, 2.0, 0.0, 0.0)))
    // u2: counts {1,5}: mean 3, var 4, fano 1.333333
    assert(out(2L) == ((2L, 2L, 6L, 3.0, 4.0, 1.333333)))
  }

  test("mannKendall: strictly rising closed form, flat series degenerate " +
      "with zero variance, direction mirrors") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 2, i))
    val up = (1 to 10).map(i => (d(i), i.toDouble)).toDF("day", "v")
    val r = graft.ops.Stats.mannKendall(up, col("day"), "v").collect().head
    assert(r.getAs[Long]("n_days") == 10L)
    assert(r.getAs[Long]("s_stat") == 45L) // all C(10,2) pairs rise
    assert(r.getAs[Double]("var_s") == 125.0) // 10*9*25/18
    assert(r.getAs[Double]("z") == BigDecimal(44.0 / math.sqrt(125.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[String]("trend") == "increasing")
    val flat = (1 to 10).map(i => (d(i), 7.0)).toDF("day", "v")
    val f = graft.ops.Stats.mannKendall(flat, col("day"), "v")
      .collect().head
    assert(f.getAs[Long]("s_stat") == 0L && f.getAs[Double]("var_s") == 0.0)
    assert(f.isNullAt(f.fieldIndex("z")) && f.getAs[String]("trend") == "none")
    val down = (1 to 10).map(i => (d(i), -i.toDouble)).toDF("day", "v")
    assert(graft.ops.Stats.mannKendall(down, col("day"), "v")
      .collect().head.getAs[Long]("s_stat") == -45L)
  }

  test("spearman: monotone nonlinear is exactly 1 while pearson is not, " +
      "reversal is -1, ties take midranks") {
    // y = x^3: perfectly monotone, curved
    val cube = (1 to 20).map(i => (i.toDouble, math.pow(i, 3))).toDF("x", "y")
    val c = graft.ops.Stats.spearman(cube, "x", "y").collect().head
    assert(c.getAs[Long]("n") == 20L)
    assert(c.getAs[Double]("spearman_rho") == 1.0)
    assert(c.getAs[Double]("pearson") < 1.0)
    val rev = (1 to 20).map(i => (i.toDouble, -math.pow(i, 3)))
      .toDF("x", "y")
    assert(graft.ops.Stats.spearman(rev, "x", "y")
      .collect().head.getAs[Double]("spearman_rho") == -1.0)
    // ties: x = 1,2,2,3 (midranks 1, 2.5, 2.5, 4) vs strictly rising y
    val tied = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 40.0))
      .toDF("x", "y")
    val t = graft.ops.Stats.spearman(tied, "x", "y").collect().head
    // closed form: Pearson([1, 2.5, 2.5, 4], [1, 2, 3, 4])
    // = 4.5 / sqrt(4.5 * 5) = 0.948683
    val expected = BigDecimal(4.5 / math.sqrt(22.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(t.getAs[Double]("spearman_rho") - expected) <= 1e-6)
  }

  test("rollingTimeWindow: the hour boundary is exclusive at exactly " +
      "-1h, bursts count by time not rows, keys isolate") {
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val rows = Seq((1L, 1L, ts(0), 10.0), (2L, 1L, ts(30), 20.0),
      (3L, 1L, ts(59), 30.0), (4L, 1L, ts(61), 40.0),
      (5L, 2L, ts(59), 99.0)).toDF("event_id", "user_id", "ts", "value")
    val out = graft.ops.Stats.rollingTimeWindow(rows, "user_id", "ts",
        "event_id", "value", windowSeconds = 3600L)
      .as[(Long, Long, java.sql.Timestamp, Double, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._5 == 1L && out(1L)._6 == 10.0)
    assert(out(2L)._5 == 2L && out(2L)._6 == 30.0)
    assert(out(3L)._5 == 3L && out(3L)._6 == 60.0) // min 0 is 59' back
    // at minute 61 the minute-0 event is 61' old -> out of the hour
    assert(out(4L)._5 == 3L && out(4L)._6 == 90.0)
    assert(out(5L)._5 == 1L && out(5L)._6 == 99.0) // other key isolated
  }

  test("rollingFeatures: lag, bounded rolling mean, running index") {
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val df = Seq(
      (1L, 7L, ts(0), 10.0), (2L, 7L, ts(1), 20.0), (3L, 7L, ts(2), 30.0),
      (4L, 8L, ts(0), 5.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Stats.rollingFeatures(df, "user_id", "ts", "event_id", "value",
        frameRows = 2)
      .select("event_id", "prev_value", "rolling_avg", "event_idx")
      .as[(Long, Option[Double], Double, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((None, 10.0, 1)))
    assert(out(2L) == ((Some(10.0), 15.0, 2)))
    assert(out(3L) == ((Some(20.0), 25.0, 3))) // frame is 2 rows, not 3
    assert(out(4L) == ((None, 5.0, 1)))        // other key unaffected
  }

  test("iqrOutliers: fences catch the planted extreme point only") {
    val df = (Seq.tabulate(100)(i => ("a", 50.0 + (i % 11))) :+ (("a", 10000.0)))
      .toDF("grp", "value")
    val row = Stats.iqrOutliers(df, "grp", "value")
      .select("n_outliers", "n_rows").head()
    assert(row.getLong(0) == 1 && row.getLong(1) == 101)
  }

  test("grouped sketch percentiles stay within rank tolerance of exact") {
    val e = graft.Tables.events(spark, sfDir)
    // exact rank brackets ±5% around each target quantile
    val brackets = e.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.45D)").as("p50_lo"),
        expr("percentile(value, 0.55D)").as("p50_hi"),
        expr("percentile(value, 0.85D)").as("p90_lo"),
        expr("percentile(value, 0.95D)").as("p90_hi"))
      .collect().map(r => r.getString(0) -> r).toMap
    Stats.groupPercentilesApprox(e, "event_type", "value").collect()
      .foreach { r =>
        val b = brackets(r.getString(0))
        assert(r.getDouble(2) >= b.getDouble(1) &&
          r.getDouble(2) <= b.getDouble(2), s"p50 out of bracket: $r")
        assert(r.getDouble(3) >= b.getDouble(3) &&
          r.getDouble(3) <= b.getDouble(4), s"p90 out of bracket: $r")
      }
  }

  test("tolerance-checked sketch variants: booleans all true, exact side " +
      "matches the exact operators") {
    val e = graft.Tables.events(spark, sfDir)
    val li = graft.Tables.lineitem(spark, sfDir)
    val p = Stats.percentilesApproxChecked(li, "l_extendedprice").head()
    assert(p.getBoolean(2) && p.getBoolean(3))
    val gp = Stats.groupPercentilesApproxChecked(e, "event_type", "value")
      .collect()
    assert(gp.forall(r => r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7)))
    // exact side of the checked IQR ≡ the exact operator, plus true flags
    val exact = Stats.iqrOutliers(e, "event_type", "value").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(4), r.getLong(5))).toMap
    Stats.iqrOutliersApproxChecked(e, "event_type", "value").collect()
      .foreach { r =>
        val (q1, q3, nOut, nRows) = exact(r.getString(0))
        assert(r.getDouble(1) == q1 && r.getDouble(2) == q3)
        assert(r.getLong(4) == nOut && r.getLong(5) == nRows)
        assert(r.getBoolean(6) && r.getBoolean(7), s"tolerance flag false: $r")
      }
  }

  test("approx IQR report tracks the exact one") {
    val e = graft.Tables.events(spark, sfDir)
    val exact = Stats.iqrOutliers(e, "event_type", "value").collect()
      .map(r => r.getString(0) -> (r.getLong(4), r.getLong(5))).toMap
    Stats.iqrOutliersApprox(e, "event_type", "value").collect().foreach { r =>
      val (nOut, nRows) = exact(r.getString(0))
      assert(r.getLong(5) == nRows)
      // fences from sketch quartiles may flip boundary points only
      assert(math.abs(r.getLong(4) - nOut) <= math.max(2L, nRows / 20),
        s"outlier count drifted: got ${r.getLong(4)} want ~$nOut")
    }
  }

  test("rollingZScore: hand-computed window, flat history gives NULL z") {
    val df = Seq(
      (1L, "u", 1L, 10.0), (2L, "u", 2L, 10.0), (3L, "u", 3L, 10.0),
      (4L, "u", 4L, 22.0),            // spike after a flat run
      (10L, "v", 1L, 5.0)             // single row: no spread
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Stats.rollingZScore(df, "user_id", "ts", "event_id", "value",
        frameRows = 4)
      .orderBy("event_id").collect()
    // rows 1-3: stddev 0 or single row -> z NULL
    assert(out.take(3).forall(_.isNullAt(6)))
    // row 4: frame = (10,10,10,22): mu=13, sd=6, z=(22-13)/6=1.5
    val r4 = out(3)
    assert(r4.getDouble(4) == 13.0 && r4.getDouble(5) == 6.0 &&
      r4.getDouble(6) == 1.5)
    // key v single row: NULL z, not a crash (ANSI div guard)
    assert(out(4).isNullAt(6))
  }

  test("scaleFeatures: standardize + min-max goldens, constant column NULL") {
    val df = Seq((1L, 0.0, 7.0), (2L, 5.0, 7.0), (3L, 10.0, 7.0))
      .toDF("k", "x", "c")
    val out = Stats.scaleFeatures(df, "k", Seq("x", "c")).collect()
    // x: mu=5 sd=5 -> z = -1, 0, 1; mm = 0, 0.5, 1
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSeq == Seq((1L, -1.0, 0.0), (2L, 0.0, 0.5), (3L, 1.0, 1.0)))
    // constant column: no spread -> NULL z and NULL min-max
    assert(out.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("madOutliers: hand-computed median/MAD, wild value flagged, " +
       "constant group robust") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
      ("b", 7.0), ("b", 7.0), ("b", 7.0)
    ).toDF("g", "v")
    val out = Stats.madOutliers(df, "g", "v", k = 3.0)
      .as[(String, Double, Double, Long, Long)].collect().toList
    // a: median 3, deviations (2,1,0,1,97) -> MAD 1; only 100 beyond 3·MAD
    // b: constant -> MAD 0, no deviation exceeds 0 strictly
    assert(out == List(("a", 3.0, 1.0, 1L, 5L), ("b", 7.0, 0.0, 0L, 3L)))
  }

  test("corrMatrix: perfect correlation, anti-correlation, one pass") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0))
      .toDF("x", "y", "z")
    val out = Stats.corrMatrix(df, Seq("x", "y", "z"))
      .as[(String, String, Double)].collect().toList
    assert(out == List(("x", "y", 1.0), ("x", "z", -1.0), ("y", "z", -1.0)))
  }

  test("quantileBin: equal-frequency buckets on distinct values, NULLs to " +
      "bin 0, bin is monotone in the value") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val binned = Stats.quantileBin(df, "v", 4)
      .select("v", "v_bin").as[(Double, Int)].collect().toList
    val counts = binned.groupBy(_._2).view.mapValues(_.size).toMap
    assert(counts == Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25))
    // monotone: sorting by value never decreases the bin
    val byV = binned.sortBy(_._1).map(_._2)
    assert(byV == byV.sorted)
    val withNull = Seq(Some(5.0), None).toDF("v")
    assert(Stats.quantileBin(withNull, "v", 2).filter($"v".isNull)
      .select("v_bin").as[Int].head() == 0)
  }

  test("winsorize clips to in-sample quantile bounds; NULLs stay NULL") {
    // values 0..10: p25 = 2.5, p75 = 7.5 under linear interpolation
    val df = (0 to 10).map(i => Some(i.toDouble)).toDF("v")
    val out = Stats.winsorize(df, "v", 0.25, 0.75)
      .select("v", "v_w").as[(Double, Double)].collect().toMap
    assert(out(0.0) == 2.5 && out(2.0) == 2.5)   // clipped up
    assert(out(5.0) == 5.0)                       // untouched middle
    assert(out(9.0) == 7.5 && out(10.0) == 7.5)   // clipped down
    val withNull = Seq(Some(1.0), Some(2.0), Some(3.0), None).toDF("v")
    assert(Stats.winsorize(withNull, "v", 0.1, 0.9)
      .filter($"v".isNull).select("v_w").as[Option[Double]].head().isEmpty)
    intercept[IllegalArgumentException] {
      Stats.winsorize(df, "v", 0.9, 0.1)
    }
  }

  test("activityProfile: uniform hours maximize entropy, single hour " +
      "gives zero, peak-hour tie elects the smaller hour") {
    def t(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      (1L, t(3, 0)), (1L, t(9, 0)),            // u1: two hours, 1 each
      (2L, t(5, 0)), (2L, t(5, 30)), (2L, t(5, 59)), // u2: one hour only
      (3L, t(8, 0)), (3L, t(2, 0))             // u3: tie → peak hour 2
    ).toDF("user_id", "ts").withColumn("ts", $"ts".cast("timestamp_ntz"))
    val out = Stats.activityProfile(ev, "user_id", "ts")
      .as[(Long, Long, Long, Double, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(1L) == ((2L, 2L, 0.693147, 3)))  // ln 2, peak = earliest max
    assert(out(2L) == ((3L, 1L, -0.0, 5)))
    assert(out(3L) == ((2L, 2L, 0.693147, 2)))  // tie at 1-1 → hour 2
  }

  test("joinCardinality: exact forecast equals the actual join size, " +
      "hottest key flagged, disjoint keys predict zero") {
    val l = Seq(1, 1, 1, 2, 3).toDF("lk")
    val r = Seq(1, 1, 2, 4).toDF("rk")
    val f = Stats.joinCardinality(l, "lk", r, "rk").head()
    val actual = l.join(r, $"lk" === $"rk").count()
    // predicted: key1 3·2 + key2 1·1 = 7
    assert(f.getLong(5) == 7L && actual == 7L)
    assert(f.getLong(0) == 5L && f.getLong(1) == 4L) // side totals
    assert(f.getLong(4) == 2L && f.getLong(6) == 6L) // common keys, hottest
    assert(f.getDouble(7) == 0.857143)
    val none = Stats.joinCardinality(l, "lk", Seq(9).toDF("rk"), "rk").head()
    assert(none.getLong(5) == 0L && none.isNullAt(7))
  }

  test("skewReport: hand-computed distribution on a hot-key layout") {
    // keys: a×6, b×2, c×1, d×1 → counts (6,2,1,1)
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val r = Stats.skewReport(df, "k").head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 4L && r.getLong(2) == 6L)
    assert(r.getDouble(3) == 1.5)   // p50 of (1,1,2,6) interpolated
    assert(r.getDouble(6) == 4.0)   // skew ratio 6/1.5
    assert(r.getDouble(7) == 0.6)   // hottest key share
  }

  test("rankFeatures: group-local ranks, percent_rank bounds, ntile " +
      "bucket sizes") {
    val df = Seq((1L, "g", 30.0), (2L, "g", 20.0), (3L, "g", 20.0),
        (4L, "g", 10.0), (5L, "h", 1.0))
      .toDF("id", "grp", "v")
    val out = Stats.rankFeatures(df, "grp", "v", "id")
      .select("id", "rnk", "pct_rank", "bucket")
      .as[(Long, Int, Double, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // value ties broken by id: 30 > 20(id2) > 20(id3) > 10
    assert(out(1L) == ((1, 0.0, 1)) && out(2L) == ((2, 0.333333, 2)))
    assert(out(3L) == ((3, 0.666667, 3)) && out(4L) == ((4, 1.0, 4)))
    assert(out(5L) == ((1, 0.0, 1))) // singleton group: percent_rank 0
    intercept[IllegalArgumentException] {
      Stats.rankFeatures(df, "grp", "v", "id", buckets = 1)
    }
  }

  test("mutualInfo: zero for independence, NMI=1 for a bijection, " +
      "symmetric, NULLs excluded") {
    // independent: every (x, y) cell has equal mass → MI = 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq("u", "v");
                       _ <- 1 to 25 } yield (x, y)).toDF("x", "y")
    val mi0 = Stats.mutualInfo(indep, "x", "y")
      .select("mi_nats").as[Double].head()
    assert(mi0 == 0.0)
    // bijective dependence: MI = H = ln 2, NMI = 1
    val dep = (Seq.fill(30)(("a", "u")) ++ Seq.fill(30)(("b", "v")))
      .toDF("x", "y")
    val r = Stats.mutualInfo(dep, "x", "y")
      .select("mi_nats", "nmi").as[(Double, Double)].head()
    assert(math.abs(r._1 - math.log(2)) < 1e-6 && r._2 == 1.0)
    // symmetry, and a NULL row changes nothing
    val withNull = dep.union(Seq(("a", null: String)).toDF("x", "y"))
    val sym = Stats.mutualInfo(withNull, "y", "x")
      .select("mi_nats").as[Double].head()
    assert(sym == r._1)
  }

  test("calibrationBins: hand-computed bins + ECE, top-edge clamp, " +
      "out-of-range score fails loud") {
    // bin 0: scores .05/.05 with 1 positive → conf .05, acc .5, gap .45
    // bin 9: scores .95/1.0 both positive → conf .975, acc 1.0, gap .025
    val df = Seq((0.05, false), (0.05, true), (0.95, true), (1.0, true))
      .toDF("score", "pos")
    val out = Stats.calibrationBins(df, "score", $"pos", 10)
      .select("bin", "n", "confidence", "accuracy", "gap", "ece")
      .as[(Int, Long, Double, Double, Double, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(0, 9)) // score=1.0 clamps into bin 9
    assert(out(0) == ((0, 2L, 0.05, 0.5, 0.45, 0.2375)))
    assert(out(1) == ((9, 2L, 0.975, 1.0, 0.025, 0.2375)))
    val bad = Seq((1.2, true)).toDF("score", "pos")
    val e = intercept[Exception] {
      Stats.calibrationBins(bad, "score", $"pos", 10).collect()
    }
    assert(e.getMessage.contains("out of [0,1]"))
    intercept[IllegalArgumentException] {
      Stats.calibrationBins(df, "score", $"pos", 1)
    }
  }

  test("ewmaFeatures: hand-computed weights, truncation, and " +
      "short-history normalization") {
    val df = Seq(
      (1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0),
      (4L, 2L, 5.0)
    ).toDF("event_id", "user_id", "value")
      .withColumn("ts", col("event_id").cast("timestamp"))
    def run(frame: Int) =
      Stats.ewmaFeatures(df, "user_id", "ts", "event_id", "value",
          alpha = 0.5, frameRows = frame)
        .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    val full = run(8)
    assert(full(1L) == 10.0)                     // single-row history
    assert(full(2L) == 16.666667)                // (10·.5 + 20)/1.5
    assert(full(4L) == 5.0)                      // other key untouched
    // all three rows in frame: (10·.25 + 20·.5 + 30)/1.75
    assert(full(3L) == 24.285714)
    // truncated to 2 lags: row 3 forgets the value 10
    assert(run(2)(3L) == 26.666667)              // (20·.5 + 30)/1.5
  }

  test("autocorr: period-2 alternating series gives corr -1 at lag 1, " +
      "+1 at lag 2, and the documented pair counts") {
    // buckets 1..40 with x alternating 0, 10, 0, 10 …
    val df = (1 to 40).map(i => (i, if (i % 2 == 0) 10.0 else 0.0))
      .toDF("bucket", "v")
    val out = Stats.autocorr(df, col("bucket"), "v", maxLag = 3)
      .as[(Int, Option[Double], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1)._1.get == -1.0 && out(1)._2 == 39L)
    assert(out(2)._1.get == 1.0 && out(2)._2 == 38L)
    assert(out(3)._1.get == -1.0 && out(3)._2 == 37L)
    // multiple rows per bucket average first: duplicating every point
    // must not change the series
    val dup = df.union(df)
    val out2 = Stats.autocorr(dup, col("bucket"), "v", maxLag = 2)
      .as[(Int, Option[Double], Long)].collect()
      .map(r => r._1 -> r._2.get).toMap
    assert(out2(1) == -1.0 && out2(2) == 1.0)
    intercept[IllegalArgumentException] {
      Stats.autocorr(df, col("bucket"), "v", maxLag = 0)
    }
  }
  test("giniConcentration: uniform 0, single-holder (n-1)/n, Lorenz " +
      "tails capture the top entities") {
    val uniform = (1L to 8L).flatMap(e => Seq((e, 5.0), (e, 5.0)))
      .toDF("e", "v")
    val u = Stats.giniConcentration(uniform, "e", "v")
      .select("n_entities", "total_value", "gini", "top1_pct_share",
        "top10_pct_share")
      .as[(Long, Double, Double, Double, Double)].head()
    assert(u._1 == 8L && u._2 == 80.0 && u._3 == 0.0)
    // ceil(8/100)=1, ceil(8/10)=1 -> both tails are the single top entity
    assert(u._4 == 0.125 && u._5 == 0.125)
    val skew = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 100.0))
      .toDF("e", "v")
    val s = Stats.giniConcentration(skew, "e", "v")
      .select("gini", "top1_pct_share").as[(Double, Double)].head()
    assert(s._1 == 0.75 && s._2 == 1.0)   // (n-1)/n with n=4
  }

  test("trendPerKey: closed-form OLS on exact points; short series NULLed " +
      "but kept in the roster") {
    val df = Seq(
      ("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 2.0, 5.0),   // y = 2x + 1, R²=1
      ("b", 0.0, 4.0), ("b", 2.0, 2.0),                    // y = -x + 4
      ("c", 5.0, 9.0)                                      // 1 point -> NULL
    ).toDF("k", "x", "y")
    val out = Stats.trendPerKey(df, "k", "x", "y")
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n_points"), Option(r.getAs[java.lang.Double]("slope")),
          Option(r.getAs[java.lang.Double]("intercept")),
          Option(r.getAs[java.lang.Double]("r2")))).toMap
    assert(out("a") == ((3L, Some(2.0), Some(1.0), Some(1.0))))
    assert(out("b") == ((2L, Some(-1.0), Some(4.0), Some(1.0))))
    assert(out("c") == ((1L, None, None, None)))
    intercept[IllegalArgumentException] {
      Stats.trendPerKey(df, "k", "x", "y", minPoints = 1)
    }
  }

  test("trendPerKey exact mode: rejects double y with the lattice recipe; " +
      "integer-lattice y is bit-stable across adversarial partition orders") {
    // adversarial magnitudes: 2-decimal values spanning 1e-2..1e7 so a
    // DOUBLE Σy genuinely depends on accumulation order, keyed so every
    // repartition slices the series differently
    val rnd = new scala.util.Random(42)
    val rows = (0 until 240).map { i =>
      val mag = math.pow(10, rnd.nextInt(9) - 2)   // 1e-2 .. 1e6
      val v = math.rint(rnd.nextDouble() * mag * 100) / 100.0
      (s"k${i % 5}", i % 37, v)
    }
    val df = rows.toDF("k", "x", "v")
    // the guard: a double y fails loud and the message carries the recipe
    val e = intercept[IllegalArgumentException] {
      Stats.trendPerKey(df.withColumnRenamed("v", "y"), "k", "x", "y",
        exact = true)
    }
    assert(e.getMessage.contains("integer lattice"))
    // the recipe: centi-lattice y -> identical output (r2 doubles included)
    // under 1/4/32 partitions and a shuffled row order
    def run(d: org.apache.spark.sql.DataFrame) = {
      val daily = d.groupBy($"k", $"x")
        .agg(sum(round($"v" * 100).cast("long")).as("y"))
      Stats.trendPerKey(daily, "k", "x", "y", exact = true)
        .collect().map(_.toString).sorted.toSeq
    }
    val ref = run(df.repartition(1))
    assert(run(df.repartition(4)) == ref)
    assert(run(df.repartition(32)) == ref)
    assert(run(df.orderBy($"v".desc).repartition(7)) == ref)
  }

  test("partitionGaps: crafted holes counted, largest run reported") {
    // days: 1,2,3, [4,5 missing], 6, [7 missing], 8 -> span 8, present 5
    val df = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-06",
      "2024-01-08").toDF("d").select(col("d").cast("date").as("d"))
    val r = Stats.partitionGaps(df, "d").collect().head
    assert(r.getAs[java.sql.Date]("first_day").toString == "2024-01-01")
    assert(r.getAs[java.sql.Date]("last_day").toString == "2024-01-08")
    assert(r.getAs[Long]("days_present") == 5L)
    assert(r.getAs[Long]("days_missing") == 3L)
    assert(r.getAs[Long]("largest_gap_days") == 2L)
    // a dense single day: no gaps, largest 0
    val one = Stats.partitionGaps(Seq("2024-01-01").toDF("d")
      .select(col("d").cast("date").as("d")), "d").collect().head
    assert(one.getAs[Long]("days_missing") == 0L &&
      one.getAs[Long]("largest_gap_days") == 0L)
    // the work-list twin: exactly the holes, in order
    val missing = Stats.missingDays(df, "d").collect()
      .map(_.getAs[java.sql.Date]("day").toString).toSeq
    assert(missing == Seq("2024-01-04", "2024-01-05", "2024-01-07"))
  }

  test("bootstrapCI: deterministic, brackets the point mean, SE tracks " +
      "sigma/sqrt(n)") {
    // values 1..400 -> mean 200.5, sigma ~ 115.6, SE ~ 5.78
    val df = (1 to 400).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val r1 = Stats.bootstrapCI(df, "id", "v", reps = 200).collect().head
    val r2 = Stats.bootstrapCI(df, "id", "v", reps = 200).collect().head
    assert(r1 == r2) // hash-driven: bit-identical across runs
    assert(r1.getAs[Long]("n_rows") == 400L)
    assert(r1.getAs[Long]("n_reps") == 200L)
    assert(r1.getAs[Double]("point_mean") == 200.5)
    val (lo, hi) = (r1.getAs[Double]("ci_lo"), r1.getAs[Double]("ci_hi"))
    assert(lo < 200.5 && 200.5 < hi, s"CI [$lo, $hi] must bracket the mean")
    // 95% CI half-width ~ 1.96 * SE ~ 11.3; allow generous slack
    assert(hi - lo > 10.0 && hi - lo < 35.0, s"CI width ${hi - lo}")
    val se = r1.getAs[Double]("boot_se")
    assert(se > 3.0 && se < 12.0, s"boot SE $se vs theoretical ~5.78")
    intercept[IllegalArgumentException] {
      Stats.bootstrapCI(df, "id", "v", reps = 5)
    }
    intercept[IllegalArgumentException] {
      Stats.bootstrapCI(df, "id", "v", reps = 100, lo = 0.9, hi = 0.1)
    }
  }

  test("theilSenPerKey: outlier-immune where OLS chases the corruption; " +
      "single-point key keeps a NULL-roster row; pair guard fails loud") {
    // key A: y = 2x + 1 on x=0..6 with one wild outlier at the END point
    // x=6 (max leverage on OLS; an outlier at the x-mean has none)
    val rows = (0 to 6).map(x =>
      ("A", x, if (x == 6) 1000.0 else 2.0 * x + 1.0)) :+ (("B", 5, 9.0))
    val df = rows.toDF("k", "x", "y")
    val ts = Stats.theilSenPerKey(df, "k", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    // 6 of 7 points lie exactly on the line -> most pairwise slopes are
    // exactly 2; the median shrugs off the outlier completely
    assert(ts("A").getAs[Double]("slope") == 2.0)
    assert(ts("A").getAs[Double]("intercept") == 1.0)
    assert(ts("A").getAs[Long]("n_pairs") == 21L)
    // OLS on the same data is dragged far off the true line
    val ols = Stats.trendPerKey(df.filter($"k" === "A"), "k", "x", "y")
      .collect().head.getAs[Double]("slope")
    assert(math.abs(ols - 2.0) > 10.0)
    // single-point key: full-roster row with NULLs, zero pairs
    assert(ts("B").getAs[Long]("n_points") == 1L)
    assert(ts("B").getAs[Long]("n_pairs") == 0L)
    assert(ts("B").isNullAt(ts("B").fieldIndex("slope")))
    // guard: a key beyond maxPoints raises inside the plan
    val big = (1 to 50).map(i => ("hot", i, i.toDouble)).toDF("k", "x", "y")
    val e = intercept[Exception] {
      Stats.theilSenPerKey(big, "k", "x", "y", maxPoints = 10).collect()
    }
    assert(e.getMessage.contains("theilSenPerKey") ||
      e.getCause != null)
  }

  test("checkRoster: adversarial 100K-distinct-group corpus fails fast " +
      "with the bounded probe (<=33 rows ever reach the driver)") {
    import org.apache.spark.sql.functions._
    // a million-distinct-group corpus must NOT be materialized driver-side
    // before the roster require fires — the bounded distinct().limit(33)
    // probe fails loud on the 33rd distinct value
    val adversarial = spark.range(100000L)
      .select(concat(lit("g"), col("id")).as("g"),
        (col("id") % 7).cast("double").as("v"))
    val e = intercept[IllegalArgumentException] {
      Stats.kruskalWallis(adversarial, "g", "v", Seq("a", "b"))
    }
    assert(e.getMessage.contains(">32 distinct groups"))
    // a conforming roster still passes through the bounded probe exactly
    val ok = (Seq(1.0, 2.0).map(("a", _)) ++ Seq(3.0, 4.0).map(("b", _)))
      .toDF("g", "v")
    assert(Stats.kruskalWallis(ok, "g", "v", Seq("a", "b"))
      .collect().head.getAs[Long]("n") == 4L)
    // drift within the bound still reports the full observed roster
    val drifted = (Seq(1.0).map(("a", _)) ++ Seq(2.0).map(("c", _)))
      .toDF("g", "v")
    val e2 = intercept[IllegalArgumentException] {
      Stats.anovaOneWay(drifted, "g", "v", Seq("a", "b"))
    }
    assert(e2.getMessage.contains("[a, c]"))
  }

  test("binned rank-stat twins: bins >= lattice span reproduces exact " +
      "bit-for-bit (order-only stats); coarse bins within one bin width") {
    import org.apache.spark.sql.functions._
    // small lattice: values like 3.17 -> span <= 2000 centi units
    val rows = (1 to 300).map(i =>
      ("a", 1.0 + ((i * 37) % 300) / 20.0)) ++ (1 to 300).map(i =>
      ("b", 4.0 + ((i * 91) % 300) / 20.0))
    val df = rows.toDF("g", "v").withColumn("v", round(col("v"), 2))
    // Mann-Whitney: fine binning == exact on every column
    val mwE = Stats.mannWhitney(df, "g", "v", "a", "b").collect().head
    val mwF = Stats.mannWhitneyBinned(df, "g", "v", "a", "b",
      bins = 100000).collect().head
    for (c <- Seq("u_a", "u_b", "z", "effect_size_r"))
      assert(mwE.getAs[Double](c) == mwF.getAs[Double](c), c)
    // Kruskal-Wallis: same H under fine binning
    val kwE = Stats.kruskalWallis(df, "g", "v", Seq("a", "b"))
      .collect().head
    val kwF = Stats.kruskalWallisBinned(df, "g", "v", Seq("a", "b"),
      bins = 100000).collect().head
    assert(kwE.getAs[Double]("h") == kwF.getAs[Double]("h"))
    // Cliff's delta: fine == exact; coarse biases only toward 0 and by
    // at most the migrated cross-pair share
    val cdE = Stats.cliffsDelta(df, "g", "v", "a", "b").collect().head
    val cdF = Stats.cliffsDeltaBinned(df, "g", "v", "a", "b",
      bins = 100000).collect().head
    assert(cdE.getAs[Double]("cliffs_delta")
      == cdF.getAs[Double]("cliffs_delta"))
    val cdC = Stats.cliffsDeltaBinned(df, "g", "v", "a", "b", bins = 15)
      .collect().head
    assert(math.abs(cdC.getAs[Double]("cliffs_delta"))
      <= math.abs(cdE.getAs[Double]("cliffs_delta")) + 1e-9)
    assert(math.abs(cdC.getAs[Double]("cliffs_delta")
      - cdE.getAs[Double]("cliffs_delta")) <= 0.2)
    // Spearman: rho identical under fine binning (order-only)
    val pairs = (1 to 500).map { i =>
      val x = ((i * 37) % 500) / 25.0
      (x, 2.0 * x + ((i * 7) % 11) / 5.0)
    }
    val pdf = pairs.toDF("x", "y")
      .withColumn("x", round(col("x"), 2))
      .withColumn("y", round(col("y"), 2))
    val spE = Stats.spearman(pdf, "x", "y").collect().head
    val spF = Stats.spearmanBinned(pdf, "x", "y", bins = 100000)
      .collect().head
    assert(spE.getAs[Double]("spearman_rho")
      == spF.getAs[Double]("spearman_rho"))
    val spC = Stats.spearmanBinned(pdf, "x", "y", bins = 50).collect().head
    assert(math.abs(spC.getAs[Double]("spearman_rho")
      - spE.getAs[Double]("spearman_rho")) <= 0.05)
    // Weighted median: coarse election lands within one bin width
    val wdf = rows.toDF("g", "v").withColumn("v", round(col("v"), 2))
      .withColumn("w", lit(1.0) + (col("v") * 10) % 7)
    val wmE = Stats.weightedMedian(wdf, "g", "v", "w")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val wmC = Stats.weightedMedianBinned(wdf, "g", "v", "w", bins = 40)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val binWidth = (wdf.agg(max(col("v")) - min(col("v"))).head.getDouble(0)
      + 0.01) / 40
    for (g <- Seq("a", "b"))
      assert(math.abs(wmE(g) - wmC(g)) <= binWidth + 1e-9,
        s"group $g median moved more than one bin width")
  }

  test("jonckheereTerpstra: perfect monotone trend hits max JT with the " +
      "hand-computed z; all-ties collapse to zero variance; pageTrend " +
      "perfect within-day trend matches the closed form") {
    import org.apache.spark.sql.functions._
    // A={1,2} B={3,4} C={5,6}: every cross pair increases -> JT = 12,
    // E = (36-12)/4 = 6, Var = (510-0-54)/72 = 6.3333, z = 6/sqrt(...)
    val inc = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0),
      ("C", 5.0), ("C", 6.0)).toDF("g", "v")
    val r = Stats.jonckheereTerpstra(inc, "g", "v", Seq("A", "B", "C"))
      .collect().head
    assert(r.getAs[Double]("jt_stat") == 12.0)
    assert(r.getAs[Double]("e_jt") == 6.0)
    assert(r.getAs[Double]("z") == 2.384158)
    // all ties: JT = E exactly and the tie-corrected variance is 0
    val ties = Seq(("A", 5.0), ("A", 5.0), ("B", 5.0), ("B", 5.0),
      ("C", 5.0), ("C", 5.0)).toDF("g", "v")
    val t = Stats.jonckheereTerpstra(ties, "g", "v", Seq("A", "B", "C"))
      .collect().head
    assert(t.getAs[Double]("jt_stat") == t.getAs[Double]("e_jt"))
    assert(t.isNullAt(t.fieldIndex("z")))
    // missing declared group fails loud
    intercept[IllegalArgumentException] {
      Stats.jonckheereTerpstra(inc.filter($"g" =!= "B"), "g", "v",
        Seq("A", "B", "C"))
    }
    // Page: 3 days, treatments increase within every day ->
    // L = 42, E = 36, Var = 6, z = 6/sqrt(6)
    val days = (1 to 3).flatMap(d => Seq(
      (s"2024-01-0$d", "t1", 1.0), (s"2024-01-0$d", "t2", 2.0),
      (s"2024-01-0$d", "t3", 3.0))).toDF("d", "g", "v")
    val pg = Stats.pageTrend(days, to_date(col("d")), "g", "v",
      Seq("t1", "t2", "t3")).collect().head
    assert(pg.getAs[Long]("n_days") == 3L)
    assert(pg.getAs[Double]("page_l") == 42.0)
    assert(pg.getAs[Double]("e_l") == 36.0)
    assert(pg.getAs[Double]("z") == 2.44949)
  }

  test("brunnerMunzel: matches the Brunner-Munzel (2000) worked example " +
      "(scipy's doc case) to 6 decimals; symmetric under swap") {
    // x1/x2 from the scipy.stats.brunnermunzel docstring; expected
    // W/df/p_hat recomputed independently from the paper's formulas
    val x1 = Seq(1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1)
    val x2 = Seq(3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4)
    val df = (x1.map(("a", _)) ++ x2.map(("b", _)))
      .toDF("g", "v")
    val r = Stats.brunnerMunzel(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 14L && r.getAs[Long]("n_b") == 11L)
    assert(r.getAs[Double]("w_stat") == 3.137467)
    assert(r.getAs[Double]("df") == 17.682842)
    assert(r.getAs[Double]("p_hat") == 0.788961)
    // swapping the groups negates W and reflects the effect
    val sw = Stats.brunnerMunzel(df, "g", "v", "b", "a").collect().head
    assert(sw.getAs[Double]("w_stat") == -3.137467)
    assert(math.abs(sw.getAs[Double]("p_hat") + r.getAs[Double]("p_hat")
      - 1.0) < 1e-9)
  }

  test("moodMedian: hand-computed 2x2 chi-square on a split design; an " +
      "extreme outlier moves NOTHING; roster drift fails loud") {
    // A = {1,2,3,4}, B = {5,6,7,8}: pooled lower median = 4 (first value
    // with 2*cum >= 8). <=4 counts below: A -> 4 below, 0 above;
    // B -> 0 below, 4 above. chi2 of the perfectly split 2x2 = N = 8.
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("A", _)) ++
      Seq(5.0, 6.0, 7.0, 8.0).map(("B", _))).toDF("g", "v")
    val r = Stats.moodMedian(df, "g", "v", Seq("A", "B")).collect().head
    assert(r.getAs[Double]("grand_median") == 4.0)
    assert(r.getAs[Long]("n_above") == 4L)
    assert(r.getAs[Double]("chi2") == 8.0)
    // corrupting one extreme value (8 -> 8e9) changes nothing at all
    val corrupted = df.withColumn("v",
      when(col("v") === 8.0, 8e9).otherwise(col("v")))
    val c = Stats.moodMedian(corrupted, "g", "v", Seq("A", "B"))
      .collect().head
    assert(c.getAs[Double]("chi2") == 8.0)
    assert(c.getAs[Double]("grand_median") == 4.0)
    intercept[IllegalArgumentException] {
      Stats.moodMedian(df, "g", "v", Seq("A", "B", "C"))
    }
  }

  test("inequalityRatiosBinned / cochranArmitageBinned: binned twins " +
      "track exact within the crossing-bin bound; trend direction agrees") {
    import org.apache.spark.sql.functions._
    // skewed per-entity totals (power-ish): 200 entities
    val rows = (1 to 200).map(i => (i.toLong, (i / 10.0) * (i / 10.0)))
    val df = rows.toDF("e", "v")
    val ex = Stats.inequalityRatios(df, "e", "v").collect().head
    val bn = Stats.inequalityRatiosBinned(df, "e", "v", bins = 2000)
      .collect().head
    assert(ex.getAs[Long]("n_entities") == bn.getAs[Long]("n_entities"))
    assert(ex.getAs[Double]("total_value")
      == bn.getAs[Double]("total_value"))
    // bottom shares under-approximate (whole bins only), top shares
    // over-approximate — and both stay within a few % here
    assert(bn.getAs[Double]("bottom50_share")
      <= ex.getAs[Double]("bottom50_share") + 1e-9)
    assert(bn.getAs[Double]("top10_share")
      >= ex.getAs[Double]("top10_share") - 1e-9)
    assert(math.abs(bn.getAs[Double]("bottom50_share")
      - ex.getAs[Double]("bottom50_share")) < 0.05)
    assert(math.abs(bn.getAs[Double]("top10_share")
      - ex.getAs[Double]("top10_share")) < 0.05)
    // CA: rising success probability along the value axis -> positive z
    // on both the ntile-score exact form and the fixed-width-bin form
    val ca = (1 to 400).map(i => (i.toDouble, i > 200))
      .toDF("f", "y")
    val scored = ca.withColumn("decile",
      ntile(10).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("f"))) - 1)
    val exCa = Stats.cochranArmitage(scored, "decile", col("y"))
      .collect().head
    val bnCa = Stats.cochranArmitageBinned(ca, "f", col("y"), bins = 10)
      .collect().head
    assert(exCa.getAs[Double]("z") > 5 && bnCa.getAs[Double]("z") > 5)
    assert(bnCa.getAs[Long]("n") == 400L)
    // uniform f means fixed-width bins == deciles: identical statistic
    assert(math.abs(bnCa.getAs[Double]("z")
      - exCa.getAs[Double]("z")) < 0.15)
  }

  test("ansariBradley: hand-computed tie case matches (AB=28, E=21.5, " +
      "z=1.995176); equal-dispersion symmetric samples score z~0") {
    // A tight around 10 vs B spread 8..13; one three-way tie at 10.0
    // spans both groups — scores from midranks, conditional moments
    val a = Seq(9.7, 9.9, 10.0, 10.1, 10.3, 10.0)
    val b = Seq(8.0, 9.0, 10.0, 11.0, 12.0, 13.0)
    val df = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    val r = Stats.ansariBradley(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Double]("ab_stat") == 28.0)
    assert(r.getAs[Double]("e_ab") == 21.5)
    assert(r.getAs[Double]("z") == 1.995176)
    // identical distributions: AB lands exactly on its mean
    val same = (Seq(1.0, 2.0, 3.0, 4.0).map(("a", _)) ++
      Seq(1.0, 2.0, 3.0, 4.0).map(("b", _))).toDF("g", "v")
    val s0 = Stats.ansariBradley(same, "g", "v", "a", "b").collect().head
    assert(s0.getAs[Double]("ab_stat") == s0.getAs[Double]("e_ab"))
  }

  test("vanDerWaerden: hand-computed separated case (probit midrank " +
      "scores, T=3.672915); identical groups score ~0; binned twin " +
      "agrees on separated groups") {
    val sep = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val r = Stats.vanDerWaerden(sep, "g", "v", Seq("a", "b"))
      .collect().head
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("t_stat") == 3.672915)
    val same = (Seq(1.0, 3.0, 5.0).map(("a", _)) ++
      Seq(1.0, 3.0, 5.0).map(("b", _))).toDF("g", "v")
    val s = Stats.vanDerWaerden(same, "g", "v", Seq("a", "b"))
      .collect().head
    assert(math.abs(s.getAs[Double]("t_stat")) < 1e-3)
    val b = Stats.vanDerWaerdenBinned(sep, "g", "v", Seq("a", "b"),
      bins = 100).collect().head
    assert(b.getAs[Double]("t_stat") > 3.0)
  }

  test("flignerKilleen: hand-computed tied case (half-normal probit " +
      "scores, chi2=0.079024); a clearly wider group drives the " +
      "statistic up; binned twin agrees in direction") {
    val df = (Seq(1.0, 2.0, 3.0, 10.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0, 7.0).map(("b", _))).toDF("g", "v")
    val r = Stats.flignerKilleen(df, "g", "v", Seq("a", "b"))
      .collect().head
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    assert(r.getAs[Double]("fk_stat") == 0.079024)
    // strongly different spreads: tight a vs wide b
    val strong = (Seq(9.9, 10.0, 10.1, 10.2, 9.8, 10.3).map(("a", _)) ++
      Seq(2.0, 18.0, 4.0, 16.0, 1.0, 19.0).map(("b", _))).toDF("g", "v")
    val st = Stats.flignerKilleen(strong, "g", "v", Seq("a", "b"))
      .collect().head
    assert(st.getAs[Double]("fk_stat") > 4.0)
    val bn = Stats.flignerKilleenBinned(strong, "g", "v", Seq("a", "b"),
      bins = 200).collect().head
    assert(bn.getAs[Double]("fk_stat") > 4.0)
  }

  test("kpss: a level series is stationary (hand-computed eta), a pure " +
      "trend is not; short series NULL out") {
    import java.sql.Date
    val mk = (ys: Seq[Double]) => ys.zipWithIndex.map { case (y, i) =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), y)
    }.toDF("d", "v")
    val lvl = mk((0 until 40).map(i => 10.0 + ((i * 7) % 5) * 0.5))
    val r = Stats.kpss(lvl, col("d"), "v").collect().head
    assert(r.getAs[Long]("n_days") == 40L)
    assert(r.getAs[Double]("kpss_stat") == 0.156522)
    assert(r.getAs[Double]("long_run_var") == 0.071875)
    assert(r.getAs[Boolean]("stationary_at_05"))
    val tr = Stats.kpss(mk((1 to 40).map(_.toDouble)), col("d"), "v")
      .collect().head
    assert(tr.getAs[Double]("kpss_stat") == 0.621813)
    assert(!tr.getAs[Boolean]("stationary_at_05"))
    val tiny = Stats.kpss(mk((1 to 10).map(_.toDouble)), col("d"), "v")
      .collect().head
    assert(tiny.isNullAt(tiny.fieldIndex("kpss_stat")))
  }

  test("adfTest: a mean-reverting series rejects the unit root " +
      "(hand-computed t), a hash walk does not, a deterministic trend " +
      "NULLs out (rss exactly 0)") {
    import java.sql.Date
    val mk = (ys: Seq[Double]) => ys.zipWithIndex.map { case (y, i) =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), y)
    }.toDF("d", "v")
    val mr = mk((0 until 30).map(i =>
      10.0 + (if (i % 2 == 0) 2.0 else -2.0) + 0.1 * (i % 3)))
    val r = Stats.adfTest(mr, col("d"), "v").collect().head
    assert(r.getAs[Long]("n_obs") == 28L)
    assert(r.getAs[Double]("rho") == -3.058939)
    assert(r.getAs[Double]("phi_lag1") == 0.531435)
    assert(r.getAs[Double]("adf_t") == -9.037396)
    assert(r.getAs[Boolean]("rejects_unit_root_05"))
    var x = 0L; var v = 0.0
    val walk = mk((0 until 40).map { _ =>
      x = (x * 48271L + 11L) % 1000L; v += (x % 7L) - 3.0; 100.0 + v })
    val w = Stats.adfTest(walk, col("d"), "v").collect().head
    assert(w.getAs[Double]("adf_t") == -1.320772)
    assert(!w.getAs[Boolean]("rejects_unit_root_05"))
    // y quadratic in t: dy = x2 + const exactly -> rss 0 -> NULL
    val det = Stats.adfTest(
      mk((1 to 30).map(i => (1 to i).map(_ * 0.1).sum)), col("d"), "v")
      .collect().head
    assert(det.isNullAt(det.fieldIndex("adf_t")))
  }

  test("dunnTest: hand-computed pairwise z's (tied 3-group case), " +
      "|z| rank is the BH ordering, binned twin agrees on separated " +
      "groups, roster drift fails loud") {
    val two = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val r2 = Stats.dunnTest(two, "g", "v", Seq("a", "b")).collect()
    assert(r2.length == 1)
    assert(r2.head.getAs[Double]("z") == -1.963961)
    assert(r2.head.getAs[Int]("abs_z_rank") == 1)
    // ties: a={1,2} b={2,3} c={10,11} — midranks 2.5, pooled tie term
    val tied = (Seq(1.0, 2.0).map(("a", _)) ++
      Seq(2.0, 3.0).map(("b", _)) ++
      Seq(10.0, 11.0).map(("c", _))).toDF("g", "v")
    val rt = Stats.dunnTest(tied, "g", "v", Seq("a", "b", "c"))
      .collect().map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b"), r.getAs[Double]("z"),
        r.getAs[Int]("abs_z_rank")))
    assert(rt.toSeq == Seq(("a", "b", -0.813489, 3),
      ("a", "c", -2.033723, 1), ("b", "c", -1.220234, 2)))
    // binned twin: same verdict ordering on well-separated groups
    val rb = Stats.dunnTestBinned(tied, "g", "v", Seq("a", "b", "c"),
      bins = 100).collect().map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b"), r.getAs[Int]("abs_z_rank")))
    assert(rb.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", "b", 3), ("a", "c", 1), ("b", "c", 2)))
    intercept[IllegalArgumentException] {
      Stats.dunnTest(two, "g", "v", Seq("a", "b", "c"))
    }
  }

  test("bartlett: hand-computed 3-group case matches; equal variances " +
      "score ~0; a single-point group NULLs the statistic; roster " +
      "drift fails loud") {
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0, 10.0).map(("b", _)) ++
      Seq(1.5, 2.5, 3.5, 4.5, 5.5).map(("c", _))).toDF("g", "v")
    val r = Stats.bartlett(df, "g", "v", Seq("a", "b", "c"))
      .collect().head
    assert(r.getAs[Long]("n") == 15L && r.getAs[Int]("df") == 2)
    assert(r.getAs[Double]("bartlett_t") == 2.495330)
    assert(r.getAs[Double]("c_factor") == 1.111111)
    assert(r.getAs[Double]("pooled_var") == 5.0)
    // identical spreads: T exactly 0 (all ln terms cancel)
    val same = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(11.0, 12.0, 13.0).map(("b", _))).toDF("g", "v")
    val s = Stats.bartlett(same, "g", "v", Seq("a", "b")).collect().head
    assert(math.abs(s.getAs[Double]("bartlett_t")) < 1e-6)
    // a group with n=1 cannot contribute a variance: NULL, not a throw
    val deg = (Seq(1.0, 2.0).map(("a", _)) ++ Seq(5.0).map(("b", _)))
      .toDF("g", "v")
    assert(Stats.bartlett(deg, "g", "v", Seq("a", "b")).collect()
      .head.isNullAt(3))
    intercept[IllegalArgumentException] {
      Stats.bartlett(df, "g", "v", Seq("a", "b"))
    }
  }

  test("dagostinoK2: hand-computed outlier case matches both transforms; " +
      "a symmetric sample scores z_skew 0; n<20 NULLs the statistic") {
    val x = ((1 to 19).map(_.toDouble) :+ 100.0).map(Tuple1(_))
      .toDF("v")
    val r = Stats.dagostinoK2(x, "v").collect().head
    assert(r.getAs[Long]("n") == 20L)
    assert(r.getAs[Double]("skewness") == 3.663948)
    assert(r.getAs[Double]("kurtosis") == 15.677731)
    assert(r.getAs[Double]("z_skew") == 5.114892)
    assert(r.getAs[Double]("z_kurt") == 4.394367)
    assert(r.getAs[Double]("k2_stat") == 45.472583)
    // symmetric sample: m3 = 0 exactly on the lattice -> z_skew = 0
    val sym = (1 to 25).map(_.toDouble).map(Tuple1(_)).toDF("v")
    val s = Stats.dagostinoK2(sym, "v").collect().head
    assert(math.abs(s.getAs[Double]("z_skew")) < 1e-6)
    val tiny = (1 to 10).map(_.toDouble).map(Tuple1(_)).toDF("v")
    assert(Stats.dagostinoK2(tiny, "v").collect().head.isNullAt(2))
  }

  test("cronbachAlpha: perfectly correlated items score rbar=1 and " +
      "standardized alpha=1 (raw alpha below 1 when scales differ); " +
      "independent noise scores near 0; a constant item NULLs out") {
    val perfect = (1 to 10).map(i => (i * 1.0, i * 2.0, i * 3.0))
      .toDF("i1", "i2", "i3")
    val p = Stats.cronbachAlpha(perfect, Seq("i1", "i2", "i3"))
      .collect().head
    assert(p.getAs[Long]("n") == 10L && p.getAs[Int]("k_items") == 3)
    assert(p.getAs[Double]("mean_inter_item_corr") == 1.0)
    assert(p.getAs[Double]("alpha_standardized") == 1.0)
    assert(p.getAs[Double]("alpha") == 0.916667)
    // anti-correlated second item drives alpha negative (slope -2 so
    // the row total is not constant -> var_total stays positive)
    val anti = (1 to 10).map(i => (i * 1.0, 22.0 - 2.0 * i))
      .toDF("i1", "i2")
    val a = Stats.cronbachAlpha(anti, Seq("i1", "i2")).collect().head
    assert(a.getAs[Double]("mean_inter_item_corr") == -1.0)
    assert(a.getAs[Double]("alpha") < 0)
    val const = (1 to 10).map(i => (i * 1.0, 5.0)).toDF("i1", "i2")
    assert(Stats.cronbachAlpha(const, Seq("i1", "i2")).collect()
      .head.isNullAt(2))
    intercept[IllegalArgumentException] {
      Stats.cronbachAlpha(perfect, Seq("i1"))
    }
  }

  test("maxDrawdown: running-peak decline replays the hand fold per " +
      "key; monotonic series draws down zero at the first day") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-$i%02d")
    val rows =
      Seq(10.0, 20.0, 15.0, 5.0, 8.0, 25.0, 12.0).zipWithIndex.map {
        case (v, i) => ("a", d(i + 1), v)
      } ++ Seq(1.0, 2.0, 3.0).zipWithIndex.map {
        case (v, i) => ("b", d(i + 1), v)
      }
    val out = Stats.maxDrawdown(rows.toDF("k", "dt", "v"), "k",
      col("dt"), "v").collect().map(r => r.getAs[String]("k") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_days") == 7L)
    assert(a.getAs[Double]("peak_daily") == 20.0)
    assert(a.getAs[Double]("trough_daily") == 5.0)
    assert(a.getAs[Double]("max_drawdown") == 15.0)
    assert(a.getAs[Double]("drawdown_pct") == 0.75)
    assert(a.getAs[java.sql.Date]("trough_date") == d(4))
    val b = out("b")
    assert(b.getAs[Double]("max_drawdown") == 0.0)
    assert(b.getAs[Double]("drawdown_pct") == 0.0)
    // all-zero drawdowns tie -> earliest day wins the pick
    assert(b.getAs[java.sql.Date]("trough_date") == d(1))
  }

  test("decayedSum: pure-integer half-life shifts replay the hand fold; " +
      "future rows excluded; negative values fail loud") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      (1L, d("2024-01-31"), 10.01), // k=0 -> 1001
      (1L, d("2024-01-24"), 10.01), // k=1 -> (1001+1) div 2 = 501
      (1L, d("2024-01-10"), 10.01), // delta 21, k=3 -> (1001+4) div 8 = 125
      (1L, d("2024-02-05"), 99.0),  // after as-of -> excluded
      (2L, d("2024-01-31"), 5.0)
    ).toDF("u", "dt", "v")
    val out = Stats.decayedSum(rows, "u", col("dt"), "v",
      asOf = "2024-01-31", halfLifeDays = 7)
      .collect().map(r => r.getAs[Long]("u") -> r).toMap
    val a = out(1L)
    assert(a.getAs[Long]("n_events") == 3L)
    assert(a.getAs[Double]("raw_sum") == 30.03)
    assert(a.getAs[Double]("decayed_sum") == 16.27)
    assert(a.getAs[Double]("decay_ratio") == 0.541792)
    assert(out(2L).getAs[Double]("decayed_sum") == 5.0)
    assert(out(2L).getAs[Double]("decay_ratio") == 1.0)
    val neg = Seq((1L, d("2024-01-31"), -1.0)).toDF("u", "dt", "v")
    intercept[Exception] {
      Stats.decayedSum(neg, "u", col("dt"), "v", "2024-01-31", 7)
        .collect()
    }
  }

  test("lognormalFit: MLE replays the lattice fold, non-positives " +
      "excluded and counted, observed p95 interpolates exactly") {
    import spark.implicits._
    val vals = Seq(1.0, 2.0, 4.0, 8.0, 16.0, -1.0, 0.0)
    val r = Stats.lognormalFit(vals.toDF("v"), "v").collect().head
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Long]("n_nonpositive") == 2L)
    // scala replay of the identical lattice fold + fixed trees
    val lat = Seq(1.0, 2.0, 4.0, 8.0, 16.0)
      .map(x => math.round(math.log(x) * 1e9))
    val s = lat.sum.toDouble
    val s2 = lat.map(l => BigDecimal(l) * BigDecimal(l)).sum.toDouble
    val mu = s / (5.0 * 1e9)
    val varl = (s2 / 5.0 - (s / 5.0) * (s / 5.0)) / 1e18
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("mu") == r6(mu))
    assert(r.getAs[Double]("sigma") == r6(math.sqrt(varl)))
    assert(r.getAs[Double]("fitted_median") == r6(math.exp(mu)))
    assert(r.getAs[Double]("fitted_p95") ==
      r6(math.exp(mu + 1.6448536269514722 * math.sqrt(varl))))
    // exact interpolated p95 of (1,2,4,8,16): rank 3.8 -> 8 + .8*8
    assert(r.getAs[Double]("observed_p95") == 14.4)
    // degenerate: one value -> sigma/p95 NULL, median = the value
    val one = Stats.lognormalFit(Seq(10.0).toDF("v"), "v")
      .collect().head
    assert(one.isNullAt(one.fieldIndex("sigma")))
    assert(one.getAs[Double]("fitted_median") == 10.0)
  }

  test("exactQuantiles is bit-identical to the builtin percentile") {
    // ties, negatives, a null (both forms skip it), and awkward probs —
    // the count-grain fold must reproduce Spark's Percentile
    // interpolation term for term (raw-bit compare, no tolerance)
    val vals: Seq[java.lang.Double] = Seq[java.lang.Double](3.5, -2.0, 3.5,
      7.25, 0.0, -2.0, 11.0, 5.5, 3.5, null, 8.125, -9.75, 5.5)
    val df = vals.toDF("v")
    val probs = Seq(0.0, 0.01, 0.1, 0.25, 1.0 - 0.9, 0.5, 2.0 / 3.0,
      0.9, 0.95, 0.999, 1.0)
    val pArr = probs.map(p => s"${p}D").mkString(", ")
    val builtin = df.agg(expr(s"percentile(v, array($pArr))"))
      .head().getSeq[Double](0)
    val mine = Stats.exactQuantiles(df, "v", probs)
      .head().getSeq[Double](1)
    assert(builtin.size == mine.size)
    builtin.zip(mine).zip(probs).foreach { case ((b, m), p) =>
      assert(java.lang.Double.doubleToRawLongBits(b) ==
        java.lang.Double.doubleToRawLongBits(m), s"p=$p: $b != $m")
    }
    // empty input: one row, n = 0, null array — the builtin's null
    val empty = Stats.exactQuantiles(
      Seq.empty[java.lang.Double].toDF("v"), "v", Seq(0.5)).head()
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("exactQuantiles ≡ builtin percentile on generated multisets " +
      "(ties, ±0.0, NULL, NaN, ±Inf; raw bits)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val pool: Seq[java.lang.Double] = Seq[java.lang.Double](-0.0, 0.0,
      -0.0, 0.0, -1.0, -2.5, 0.1, 3.5, 7.25, null, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val gen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf(pool)))
    val cases = Seq[Seq[java.lang.Double]](Nil, Seq(-0.0), Seq(0.1),
      Seq.fill(5)(-0.0), Seq(null, null),
      Seq(-0.0, -0.0, 0.0, 1.0, -1.0).map(Double.box)) ++
      (1 to 24).map(i =>
        gen.pureApply(Gen.Parameters.default, Seed(9100L + i)))
    val probs = Seq(0.0, 1.0 / 3, 0.25, 0.5, 2.0 / 3, 0.999, 1.0)
    val pArr = probs.map(p => s"${p}D").mkString(", ")
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    cases.foreach { vals =>
      val df = vals.toDF("v")
      val b = df.agg(expr(s"percentile(v, array($pArr))")).head()
      val m = Stats.exactQuantiles(df, "v", probs).head()
      assert(m.getLong(0) == vals.count(_ != null), vals)
      if (b.isNullAt(0)) assert(m.isNullAt(1), vals)
      else assert(bits(m.getSeq[Double](1)) == bits(b.getSeq[Double](0)),
        s"$vals: ${m.getSeq[Double](1)} != ${b.getSeq[Double](0)}")
    }
  }
}
