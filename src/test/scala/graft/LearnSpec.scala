package graft

import graft.ops.Learn
import org.apache.spark.sql.functions._

/** Logistic-GD trainer: dataflow ≡ local reference implementation, plus
  * behavioral checks (separable data classifies perfectly; zero-init
  * first step is label-balance-driven).
  */
class LearnSpec extends SparkSpec {
  import spark.implicits._

  /** Local full-batch GD with the identical recipe: intercept prepended,
    * zero init, w ← w − η·Σ(σ(w·x)−y)·x/n, strict left-to-right dot.
    */
  private def localGD(rows: Seq[(Long, Array[Float], Int)], eta: Double,
                      iterations: Int): Map[Long, (Double, Double, Int)] = {
    val xs = rows.map { case (id, v, y) =>
      (id, 1.0 +: v.map(_.toDouble), y) }
    val d = xs.head._2.length
    var w = Array.fill(d)(0.0)
    def dot(a: Array[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      for (i <- 0 until d) acc += a(i) * b(i)
      acc
    }
    for (_ <- 1 to iterations) {
      val grad = Array.fill(d)(0.0)
      xs.foreach { case (_, x, y) =>
        val r = 1.0 / (1.0 + math.exp(-dot(w, x))) - y
        for (i <- 0 until d) grad(i) += r * x(i)
      }
      w = Array.tabulate(d)(i => w(i) - eta * grad(i) / xs.length)
    }
    xs.map { case (id, x, y) =>
      val m = dot(w, x)
      id -> (m, 1.0 / (1.0 + math.exp(-m)), y)
    }.toMap
  }

  private val corpus: Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(42)
    (0L until 80L).map { id =>
      val y = (id % 2).toInt
      // class-dependent mean with overlap so training is non-trivial
      val v = Array.fill(5)((rnd.nextGaussian() + (if (y == 1) 0.8 else -0.4)).toFloat)
      (id, v, y)
    }
  }

  test("logisticGD ≡ local reference on an overlapping two-class corpus " +
      "(margins to 1e-9, probs/preds exact)") {
    val df = corpus.toDF("vec_id", "embedding", "y")
    val out = Learn.logisticGD(df, "vec_id", "embedding", col("y") === 1,
        eta = 0.5, iterations = 4)
      .as[(Long, Int, Double, Double, Int)].collect()
    val ref = localGD(corpus, eta = 0.5, iterations = 4)
    assert(out.length == corpus.length)
    out.foreach { case (id, y, margin, prob, pred) =>
      val (rm, rp, ry) = ref(id)
      assert(y == ry)
      assert(math.abs(margin - BigDecimal(rm).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"id=$id margin $margin vs ref $rm")
      assert(pred == (if (rp >= 0.5) 1 else 0))
    }
  }

  test("separable data: enough supersteps reach accuracy 1.0; metrics " +
      "row folds count/base-rate/accuracy/log-loss") {
    val sep = (0L until 40L).map { id =>
      val y = (id % 2).toInt
      (id, Array.fill(3)(if (y == 1) 2.0f else -2.0f), y)
    }
    val scored = Learn.logisticGD(sep.toDF("vec_id", "embedding", "y"),
      "vec_id", "embedding", col("y") === 1, eta = 0.5, iterations = 8)
    val m = Learn.logisticMetrics(scored)
      .as[(Long, Long, Double, Double)].head()
    assert(m._1 == 40L && m._2 == 20L)
    assert(m._3 == 1.0, s"accuracy ${m._3}")
    assert(m._4 > 0.0 && m._4 < 0.35, s"log_loss ${m._4}")
  }

  test("logisticImportance: the predictive feature outranks the " +
      "constant one; intercept and constant dims score importance 0") {
    // dim 1 (signed feature) separates the classes; dim 2 is constant
    val rows = (0L until 16L).map { id =>
      val y = (id % 2).toInt
      (id, Array(if (y == 1) 1.0f else -1.0f, 3.0f), y)
    }
    val df = rows.toDF("vec_id", "embedding", "y")
    val out = Learn.logisticImportance(df, "vec_id", "embedding",
      col("y") === 1, eta = 0.5, iterations = 3).collect()
      .map(r => r.getAs[Int]("dim") ->
        (r.getAs[Double]("feature_std"), r.getAs[Double]("importance"),
          r.getAs[Int]("rank"))).toMap
    assert(out(0)._1 == 0.0 && out(0)._2 == 0.0) // intercept
    assert(out(1)._1 == 1.0 && out(1)._2 > 0.0)  // signed feature: std 1
    assert(out(2)._1 == 0.0 && out(2)._2 == 0.0) // constant feature
    assert(out(1)._3 == 1)                       // top importance rank
  }

  test("naiveBayesText: hand-computed smoothed posteriors; all-unseen " +
      "doc falls back to the prior with ascending-label tiebreak") {
    // train (id % 5 != 0): A="spam spam ham", B="eggs eggs"; V=3
    // test id 5 "spam eggs": score_A = ln(1/2)+ln(3/6)+ln(1/6) = ln(1/24)
    //                        score_B = ln(1/2)+ln(1/5)+ln(3/5) = ln(0.06)
    val docs = Seq(
      (1L, "spam spam ham", "A"), (2L, "eggs eggs", "B"),
      (5L, "spam eggs", "A"), (10L, "zzz qqq", "B"))
      .toDF("doc_id", "text", "lang")
    val r = Learn.naiveBayesText(docs, "doc_id", "text", "lang")
      .collect()
    assert(r.length == 2)
    val d5 = r.find(_.getLong(0) == 5L).get
    assert(d5.getAs[String]("label") == "A")
    assert(d5.getAs[String]("predicted") == "B") // ln0.06 > ln(1/24)
    assert(d5.getAs[Double]("log_score") == -2.813411)
    assert(!d5.getAs[Boolean]("correct"))
    // unseen tokens dropped -> prior-only tie, smaller label elected
    val d10 = r.find(_.getLong(0) == 10L).get
    assert(d10.getAs[String]("predicted") == "A")
    assert(d10.getAs[Double]("log_score") == -0.693147)
    intercept[IllegalArgumentException] {
      Learn.naiveBayesText(docs, "doc_id", "text", "lang", testModulus = 1)
    }
  }

  test("decisionStump: a perfectly separable feature gains the full " +
      "parent impurity; a non-informative one gains zero") {
    val sep = Seq((1L, 1.0, false), (2L, 2.0, false),
      (3L, 3.0, true), (4L, 4.0, true)).toDF("k", "f", "y")
    val r = Learn.decisionStump(sep, "k", "f", col("y"), bins = 2)
      .collect()
    assert(r.length == 1)
    val c = r.head
    assert(c.getAs[Int]("split_bin") == 1)
    assert(c.getAs[Double]("threshold") == 2.0)
    assert(c.getAs[Long]("n_left") == 2L && c.getAs[Long]("pos_left") == 0L)
    assert(c.getAs[Long]("n_right") == 2L &&
      c.getAs[Long]("pos_right") == 2L)
    assert(c.getAs[Double]("gini_left") == 0.0)
    assert(c.getAs[Double]("gini_right") == 0.0)
    assert(c.getAs[Double]("gini_gain") == 0.5)
    assert(c.getAs[Boolean]("is_best"))
    val flat = Seq((1L, 1.0, true), (2L, 2.0, false),
      (3L, 3.0, true), (4L, 4.0, false)).toDF("k", "f", "y")
    val f = Learn.decisionStump(flat, "k", "f", col("y"), bins = 2)
      .collect().head
    assert(f.getAs[Double]("gini_gain") == 0.0)
  }

  test("first superstep from zero init moves the intercept by " +
      "η·(base_rate − 1/2): exact closed form") {
    // at w=0 every σ(w·x)=1/2, so the intercept gradient is (1/2 − p̂)
    val df = (0L until 10L).map(id =>
      (id, Array(0.0f), (if (id < 3) 1 else 0))).toDF("vec_id", "embedding", "y")
    val out = Learn.logisticGD(df, "vec_id", "embedding", col("y") === 1,
        eta = 1.0, iterations = 1)
      .select("margin").distinct().as[Double].collect()
    // margin = intercept = −η·(1/2 − 0.3) = −0.2 for every row (x=0)
    assert(out.toSeq == Seq(-0.2))
  }

  test("bradleyTerry: transitive league ranks 1 > 2 > 3, strengths are " +
      "mean-normalized on the lattice, and schedule strength matters") {
    val comps = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L), (1L, 3L),
      (3L, 1L)).toDF("winner", "loser")
    val r = Learn.bradleyTerry(comps, "winner", "loser", iterations = 4)
      .collect()
    assert(r.map(_.getAs[Long]("player")).toSeq == Seq(1L, 2L, 3L))
    assert(r.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    val s = r.map(_.getAs[Double]("strength"))
    assert(s(0) > s(1) && s(1) > s(2) && s(2) > 0.0)
    // mean-1 normalization: the lattice sum stays within one micro-unit
    assert(math.abs(s.sum - 3.0) < 1e-4)
    assert(r.map(_.getAs[Long]("n_wins")).toSeq == Seq(3L, 2L, 1L))
    assert(r.map(_.getAs[Long]("n_comparisons")).toSeq == Seq(4L, 4L, 4L))
    // schedule strength: b beats only the strong a; c beats only the
    // weak d (same 1-1 record) -> b outranks c
    val sched = Seq((10L, 20L), (10L, 20L), (10L, 30L), (20L, 10L),
      (30L, 40L), (40L, 30L), (30L, 40L)).toDF("winner", "loser")
    // 20 ("b") has 1 win over 10 (2 losses to it); 40 ("c") has 1 win
    // over 30 (2 losses) — but 10 is stronger than 30
    val m = Learn.bradleyTerry(sched, "winner", "loser", iterations = 6)
      .collect().map(x => x.getAs[Long]("player") ->
        x.getAs[Double]("strength")).toMap
    assert(m(10L) > m(30L))
    assert(m(20L) > m(40L))
  }

  test("reliable-checkpoint parity: bradleyTerry identical via " +
      "Ckpt.cut(dir) as via localCheckpoint") {
    val dir = tempDir("graft-ckpt")
    val comps = Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 2L))
      .toDF("winner", "loser")
    val local = Learn.bradleyTerry(comps, "winner", "loser",
      iterations = 4).collect().toSeq
    val rel = Learn.bradleyTerry(comps, "winner", "loser", iterations = 4,
      checkpointDir = Some(dir)).collect().toSeq
    assert(local == rel)
  }

  test("bradleyTerry driver fast path ≡ distributed supersteps " +
      "(driverEdgeBudget = 0 forces the loop) on a randomized league") {
    // deterministic pseudo-random schedule: 24 players, 400 matchups
    // with repeats, skewed toward low ids winning — exercises repeated
    // cells, uneven schedules, and all-losing players
    val games = (0 until 400).map { g =>
      val a = (g * 7919 % 24).toLong
      val b = ((g * 104729 + 13) % 24).toLong
      if (a == b) (a, (b + 1) % 24)
      else if ((g * 31 % 10) < 6) (math.min(a, b), math.max(a, b))
      else (math.max(a, b), math.min(a, b))
    }.toDF("winner", "loser")
    val fast = Learn.bradleyTerry(games, "winner", "loser",
      iterations = 4).collect().toSeq
    val dist = Learn.bradleyTerry(games, "winner", "loser",
      iterations = 4, driverEdgeBudget = 0L).collect().toSeq
    assert(fast == dist)
    assert(fast.nonEmpty)
  }

  test("decisionStumpBinned: clean separation elects a boundary within " +
      "one bin width of the true split, with no ntile global sort") {
    import org.apache.spark.sql.functions._
    val rows = (1 to 200).map(i => (i.toLong, i / 10.0, i > 100))
    val df = rows.toDF("k", "f", "y")
    val out = Learn.decisionStumpBinned(df, "k", "f", col("y"), bins = 50)
    val best = out.filter(col("is_best")).collect()
    assert(best.length == 1)
    // true boundary is f = 10.0; bin width = 19.9/50 ~ 0.4
    assert(math.abs(best.head.getAs[Double]("threshold") - 10.0) <= 0.5)
    assert(best.head.getAs[Double]("gini_gain") > 0.45)
    // the exact form's scale hazard is the ntile window; the binned
    // plan must not contain one
    assert(!out.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("ntile"))
    // parity of totals with the exact stump on the same rows
    val exact = Learn.decisionStump(df, "k", "f", col("y"), bins = 10)
      .filter(col("is_best")).collect().head
    assert(math.abs(exact.getAs[Double]("threshold") - 10.0) <= 2.0)
  }

  test("ransacLine: consensus recovers the planted line exactly under " +
      "gross outliers the naive OLS absorbs") {
    import spark.implicits._
    // 10 points exactly on y = 2x + 1, 3 gross outliers
    val rows = (1 to 10).map(i => (i.toLong, i.toDouble, 2.0 * i + 1.0)) ++
      Seq((11L, 1.0, 100.0), (12L, 2.0, -50.0), (13L, 3.0, 80.0))
    val df = rows.toDF("rid", "x", "y")
    val r = graft.ops.Learn.ransacLine(df, "rid", "x", "y",
      eps = 0.5, arms = 64).collect().head
    assert(r.getAs[Long]("n") == 13L)
    assert(r.getAs[Long]("n_inliers") == 10L)
    assert(r.getAs[Double]("inlier_share") == 0.769231)
    assert(r.getAs[Double]("ransac_slope") == 2.0)
    assert(r.getAs[Double]("ransac_intercept") == 1.0)
    // the naive OLS is pulled off the truth by the outliers
    assert(math.abs(r.getAs[Double]("ols_slope") - 2.0) > 0.5 ||
      math.abs(r.getAs[Double]("ols_intercept") - 1.0) > 0.5)
  }

  test("gmmEm: a planted well-separated bimodal mixture is recovered " +
      "(means near the modes, weights near the mix, w1 + w2 = 1)") {
    import spark.implicits._
    // 2000 points near 10, 1000 near 100 (deterministic sawtooth noise)
    val rows = ((1 to 2000).map(i => 10.0 + (i % 21 - 10) * 0.1) ++
      (1 to 1000).map(i => 100.0 + (i % 21 - 10) * 0.2)).toDF("v")
    val r = graft.ops.Learn.gmmEm(rows, "v", bins = 64, rounds = 8)
      .collect().head
    val (w1, mu1) = (r.getAs[Double]("w1"), r.getAs[Double]("mu1"))
    val (w2, mu2) = (r.getAs[Double]("w2"), r.getAs[Double]("mu2"))
    assert(r.getAs[Long]("n") == 3000L)
    assert(math.abs(w1 + w2 - 1.0) < 1e-9)
    assert(math.abs(mu1 - 10.0) < 3.0, s"mu1 $mu1")
    assert(math.abs(mu2 - 100.0) < 3.0, s"mu2 $mu2")
    assert(math.abs(w1 - 2.0 / 3.0) < 0.05, s"w1 $w1")
    assert(r.getAs[Double]("sigma1") > 0 && r.getAs[Double]("sigma2") > 0)
  }

  test("gmmEm/gmmBic: a constant column (variance 0) yields NULL params " +
      "and likelihoods, never -Inf/NaN or a wrapped long") {
    import spark.implicits._
    val rows = Seq.fill(100)(7.5).toDF("v")
    val em = graft.ops.Learn.gmmEm(rows, "v", bins = 64, rounds = 3)
      .collect().head
    assert(em.getAs[Long]("n") == 100L)
    Seq("w1", "mu1", "sigma1", "w2", "mu2", "sigma2", "avg_loglik")
      .foreach(c => assert(em.isNullAt(em.fieldIndex(c)), s"$c not null"))
    val bic = graft.ops.Learn.gmmBic(rows, "v", bins = 64, rounds = 3)
      .collect().head
    Seq("loglik_1", "loglik_2", "bic_1", "bic_2", "delta_bic")
      .foreach(c => assert(bic.isNullAt(bic.fieldIndex(c)), s"$c not null"))
  }

  test("wPinned: scoring and importance from a pinned fitWeights frame " +
      "are row-identical to the internal fit (the shared-artifact path)") {
    val df = corpus.toDF("vec_id", "embedding", "y")
    val w = Learn.fitWeights(df, "vec_id", "embedding", col("y") === 1,
      eta = 0.5, iterations = 4).localCheckpoint()
    val scoredFit = Learn.logisticGD(df, "vec_id", "embedding",
      col("y") === 1, eta = 0.5, iterations = 4).collect().toSeq
    val scoredPin = Learn.logisticGD(df, "vec_id", "embedding",
      col("y") === 1, eta = 0.5, iterations = 4, wPinned = Some(w))
      .collect().toSeq
    assert(scoredPin == scoredFit)
    val impFit = Learn.logisticImportance(df, "vec_id", "embedding",
      col("y") === 1, eta = 0.5, iterations = 4).collect().toSeq
    val impPin = Learn.logisticImportance(df, "vec_id", "embedding",
      col("y") === 1, eta = 0.5, iterations = 4, wPinned = Some(w))
      .collect().toSeq
    assert(impPin == impFit)
  }
}
