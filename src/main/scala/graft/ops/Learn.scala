package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-engine model training — deterministic full-batch logistic regression
  * expressed as declarative gradient-descent supersteps, the training-side
  * complement of [[MLBridge.trainOnFeatures]] (which delegates to MLlib's
  * sampled/quasi-Newton fit and is therefore not engine-replayable).
  *
  * A curation pipeline trains small linear quality/language classifiers over
  * engineered features constantly (fastText-style filters, CCNet's quality
  * buckets); this is that trainer as a pure dataflow: every superstep is one
  * broadcast of the (1-row) weight frame, one narrow projection computing
  * each row's residual, and ONE keyed aggregation at (dimension) grain —
  * n·(d+1) rows shuffled per step with map-side partial sums, state bounded
  * by d+1 doubles regardless of corpus size. No driver-side math: weights
  * live in a DataFrame end to end.
  *
  * Determinism contract (same discipline as [[Clustering.kmeans]] /
  * [[Graph.pageRank]]): zero-initialized weights, a FIXED superstep count
  * (no float-tolerance convergence test), gradient = sum(resid·x)/count
  * with the division spelled explicitly (sum-then-divide, never a built-in
  * mean/co-moment whose accumulation algorithm differs across engines —
  * the trendPerKey lesson), and the sigmoid/dot spelled with the identical
  * expression tree the DuckDB oracle replays.
  */
object Learn {

  /** Σ aᵢ·bᵢ with strict left-to-right accumulation — HOF twin of DuckDB's
    * `list_inner_product` (same shape as [[Clustering]]'s).
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def sigmoid(m: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-m))

  /** Full-batch logistic-regression GD: returns one row per input row with
    * the final margin wᵀx, probability σ(wᵀx), hard prediction at 0.5 and
    * the true label — the scored corpus a quality-filter stage consumes.
    *
    * Features are the embedding with a prepended intercept component
    * (x₀ = 1). Each of the `iterations` supersteps computes
    * w ← w − η · Σᵢ(σ(wᵀxᵢ) − yᵢ)·xᵢ / n via posexplode to (dim) grain +
    * one aggregation (d+1 final rows), folds the gradient back into an
    * array with the kmeans sort-struct idiom, and truncates lineage with
    * `localCheckpoint` (swap `checkpoint` on a cluster). The weight and
    * gradient frames are 1-row broadcasts; the corpus is never collected,
    * sorted, or replicated.
    */
  def logisticGD(emb: DataFrame, idCol: String, vecCol: String,
                 label: Column, eta: Double = 0.5,
                 iterations: Int = 3,
                 wPinned: Option[DataFrame] = None): DataFrame = {
    require(eta > 0 && eta <= 10.0, s"logisticGD: eta in (0, 10] (got $eta)")
    require(iterations >= 1 && iterations <= 20,
      s"logisticGD: iterations in [1, 20] (got $iterations)")
    // with a pinned weight frame the corpus is read ONCE (the scoring
    // pass), so the checkpoint that amortized it across the supersteps
    // would be pure overhead
    val vecsBase = emb.select(col(idCol).as("__id"),
        concat(array(lit(1.0)), col(vecCol).cast("array<double>")).as("__x"),
        label.cast("int").as("__y"))
    val vecs =
      if (wPinned.isDefined) vecsBase else vecsBase.localCheckpoint()
    val w = wPinned.getOrElse(fitLr(vecs, eta, iterations))
    vecs.crossJoin(broadcast(w))
      .withColumn("__m", dot(col("__w"), col("__x")))
      .select(col("__id").as(idCol),
        col("__y").as("y"),
        round(col("__m"), 6).as("margin"),
        round(sigmoid(col("__m")), 6).as("prob"),
        (sigmoid(col("__m")) >= 0.5).cast("int").as("pred"))
      .orderBy(idCol)
  }

  /** The fitted weight frame alone (1 row, d+1 doubles) — the artifact a
    * training job persists beside the corpus. The registry pins it once
    * per corpus so the five x_lr_* consumers (scores, noise screen,
    * calibration, metrics, importance) share one superstep run via
    * `wPinned` instead of five identical refits.
    */
  def fitWeights(emb: DataFrame, idCol: String, vecCol: String,
                 label: Column, eta: Double = 0.5,
                 iterations: Int = 3): DataFrame = {
    require(eta > 0 && eta <= 10.0, s"fitWeights: eta in (0, 10] (got $eta)")
    require(iterations >= 1 && iterations <= 20,
      s"fitWeights: iterations in [1, 20] (got $iterations)")
    val vecs = emb.select(col(idCol).as("__id"),
        concat(array(lit(1.0)), col(vecCol).cast("array<double>")).as("__x"),
        label.cast("int").as("__y"))
      .localCheckpoint()
    fitLr(vecs, eta, iterations)
  }

  /** The full-batch GD weight fit shared by [[logisticGD]] and
    * [[logisticImportance]] — zero init, `iterations` supersteps of
    * w ← w − η·mean((σ(w·x) − y)·x), oracle-replayed step for step. */
  private def fitLr(vecs: DataFrame, eta: Double,
                    iterations: Int): DataFrame = {
    // zero init: length from any row (values are zeros either way)
    var w = vecs.orderBy(col("__id")).limit(1)
      .select(transform(col("__x"), _ => lit(0.0)).as("__w"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iterations) {
      val grad = vecs.crossJoin(broadcast(w))
        .select((sigmoid(dot(col("__w"), col("__x")))
          - col("__y").cast("double")).as("__r"),
          posexplode(col("__x")).as(Seq("__dim", "__c")))
        .groupBy(col("__dim"))
        .agg(sum(col("__r") * col("__c")).as("__s"),
          count(lit(1)).as("__n"))
        .agg(array_sort(collect_list(struct(col("__dim"),
          (col("__s") / col("__n").cast("double")).as("__g")))).as("__sg"))
        .select(transform(col("__sg"), s => s.getField("__g")).as("__grad"))
      w = w.crossJoin(grad)
        .select(zip_with(col("__w"), col("__grad"),
          (a, g) => a - lit(eta) * g).as("__w"))
        .localCheckpoint(eager = false)
    }
    w
  }

  /** Standardized-coefficient feature importance of the [[logisticGD]]
    * model: per dimension, the fitted weight, the feature's population
    * std, and importance = |w|·std — the unit-free ranking (a large
    * weight on a tiny-variance feature moves nothing). The honest
    * screen for "which embedding dimensions does the quality filter
    * actually use", without k refit passes.
    *
    * Feature moments ride the 1e-6 lattice (exact long/HUGEINT sums),
    * the weight comes from the superstep-replayed fit, and the rank
    * orders by the ROUNDED importance (dim tiebreak) so it can never
    * flip on sub-rounding noise. Dim 0 is the intercept (std 0,
    * importance 0, kept and labeled).
    */
  def logisticImportance(emb: DataFrame, idCol: String, vecCol: String,
                         label: Column, eta: Double = 0.5,
                         iterations: Int = 3,
                         wPinned: Option[DataFrame] = None): DataFrame = {
    require(eta > 0 && eta <= 10.0,
      s"logisticImportance: eta in (0, 10] (got $eta)")
    require(iterations >= 1 && iterations <= 20,
      s"logisticImportance: iterations in [1, 20] (got $iterations)")
    val vecsBase = emb.select(col(idCol).as("__id"),
        concat(array(lit(1.0)), col(vecCol).cast("array<double>")).as("__x"),
        label.cast("int").as("__y"))
    val vecs =
      if (wPinned.isDefined) vecsBase else vecsBase.localCheckpoint()
    val w = wPinned.getOrElse(fitLr(vecs, eta, iterations))
    val wDims = w.select(posexplode(col("__w")).as(Seq("__dim", "__wv")))
    val stats = vecs
      .select(posexplode(col("__x")).as(Seq("__dim", "__v")))
      .withColumn("__vu", round(col("__v") * 1e6, 0).cast("long"))
      .groupBy(col("__dim"))
      .agg(count(lit(1)).as("__n"), sum(col("__vu")).as("__sv"),
        sum(col("__vu").cast("decimal(38,0)") * col("__vu")).as("__svv"))
    val nD = col("__n").cast("double")
    val std = sqrt((col("__n").cast("decimal(38,0)") * col("__svv") -
      col("__sv").cast("decimal(38,0)") * col("__sv")).cast("double") /
      (nD * nD)) / 1e6
    val scored = stats.join(broadcast(wDims), Seq("__dim"))
      .withColumn("feature_std", round(std, 6))
      .withColumn("weight", round(col("__wv"), 6))
      .withColumn("importance", round(abs(col("__wv")) * std, 6))
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("importance").desc, col("__dim"))))
      .select(col("__dim").as("dim"), col("weight"), col("feature_std"),
        col("importance"), col("rank"))
      .orderBy("dim")
  }

  /** Training-run report over [[logisticGD]] scores: count, base rate,
    * accuracy and mean log-loss in one aggregation. Log-loss is computed
    * from the ROUNDED margin via ln(1+e^∓m) — deliberately: the rounded
    * margin is the cross-engine-stable quantity (it hash-matches at 6 dp),
    * so chaining from it keeps the metrics row exactly replayable instead
    * of re-amplifying sub-rounding float noise through exp/ln.
    */
  def logisticMetrics(scored: DataFrame): DataFrame = {
    val m = col("margin")
    // −ln p = ln(1+e^−m); −ln(1−p) = ln(1+e^m)
    val loss = when(col("y") === 1, log(lit(1.0) + exp(-m)))
      .otherwise(log(lit(1.0) + exp(m)))
    scored.agg(
      count(lit(1)).as("n"),
      sum(col("y").cast("long")).as("n_pos"),
      round(sum((col("pred") === col("y")).cast("int").cast("double"))
        / count(lit(1)).cast("double"), 6).as("accuracy"),
      round(sum(loss) / count(lit(1)).cast("double"), 6).as("log_loss"))
  }

  /** Depth-1 decision tree (stump) on one numeric feature: every
    * quantile-bin boundary scored as a candidate split by Gini gain on
    * a BINARY target — the univariate "is this feature predictive, and
    * where does it cut" screen (CART's inner loop, run once,
    * declaratively). Output is the full candidate table — one row per
    * boundary with both children's class counts, impurities, and the
    * gain — with the winner flagged, so a reader sees the whole gain
    * curve rather than one opaque threshold.
    *
    * Determinism: bin assignment is ntile over the (feature, key)
    * total order (exact, engine-replayable); all class counts are
    * exact long folds; each candidate's impurities and gain are ONE
    * fixed double tree on those longs, and the winner is elected on
    * the 1e-12-lattice gain with an ascending-boundary tiebreak — no
    * float crosses an aggregation boundary.
    *
    * Plan: the global ntile sort is the entity-grain caveat shared
    * with the gini/decile queries (swap quantile-bin thresholds at
    * billions of rows); after that one aggregation to the BOUNDED
    * bin frame, windows and the election run over ≤ `bins` rows.
    */
  def decisionStump(df: DataFrame, keyCol: String, featureCol: String,
                    target: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 256,
      s"decisionStump: bins in [2, 256] (got $bins)")
    val base = df.select(col(keyCol).as("__k"),
        col(featureCol).cast("double").as("__f"),
        target.cast("boolean").as("__y"))
      .filter(col("__f").isNotNull && col("__y").isNotNull)
    val binned = base.withColumn("__b",
      ntile(bins).over(Window.orderBy(col("__f"), col("__k"))))
    val per = binned.groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
        max(col("__f")).as("__thr"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = per.agg(sum(col("__n")).as("__nt"), sum(col("__p")).as("__pt"))
    def g(p: Column, n: Column): Column = {
      val pD = p.cast("double"); val nD = n.cast("double")
      lit(2.0) * pD / nD * (lit(1.0) - pD / nD)
    }
    val cand = per
      .withColumn("__nl", sum(col("__n")).over(wCum))
      .withColumn("__pl", sum(col("__p")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("__b") < bins)
      .withColumn("__nr", col("__nt") - col("__nl"))
      .withColumn("__pr", col("__pt") - col("__pl"))
      .withColumn("__gain",
        g(col("__pt"), col("__nt")) -
          (col("__nl").cast("double") / col("__nt").cast("double") *
            g(col("__pl"), col("__nl")) +
           col("__nr").cast("double") / col("__nt").cast("double") *
            g(col("__pr"), col("__nr"))))
      .withColumn("__gl", round(col("__gain") * 1e12, 0).cast("long"))
    val best = cand.agg(
      min(struct((-col("__gl")).as("__neg"), col("__b").as("__bb")))
        .as("__best"))
    cand.crossJoin(broadcast(best))
      .select(col("__b").as("split_bin"),
        round(col("__thr"), 6).as("threshold"),
        col("__nl").as("n_left"), col("__pl").as("pos_left"),
        col("__nr").as("n_right"), col("__pr").as("pos_right"),
        round(g(col("__pl"), col("__nl")), 6).as("gini_left"),
        round(g(col("__pr"), col("__nr")), 6).as("gini_right"),
        round(col("__gain"), 6).as("gini_gain"),
        (col("__b") === col("__best.__bb")).as("is_best"))
      .orderBy("split_bin")
  }

  /** [[decisionStump]] over [[Drift.latticeBin]] fixed-width bins — the
    * 100 TB form: the exact stump's `ntile` quantile binning is a
    * SINGLE-PARTITION sort of the entity grain (fine for customers,
    * the scale-killer for event-grain features); fixed-width lattice
    * bins need only the 1-row bounds broadcast plus one keyed
    * aggregation, so nothing ever sorts the corpus. Split candidates
    * are the ≤ `bins` non-empty bin boundaries (every present bin but
    * the last) — the threshold grid is value-uniform instead of
    * mass-uniform, the standard histogram-split trade (LightGBM's
    * default posture). Same output schema; the elected threshold is
    * within one bin width of a boundary the exact form could pick.
    */
  def decisionStumpBinned(df: DataFrame, keyCol: String,
                          featureCol: String, target: Column,
                          bins: Int = 256): DataFrame = {
    require(bins >= 2 && bins <= 100000,
      s"decisionStumpBinned: bins in [2, 100000] (got $bins)")
    val base = df.select(col(keyCol).as("__k"),
        col(featureCol).cast("double").as("__f"),
        target.cast("boolean").as("__y"))
      .filter(col("__f").isNotNull && !isnan(col("__f")) &&
        col("__y").isNotNull)
    // ONE corpus pass to per-lattice-value sufficient stats, then the
    // latticeBin integer binning on the DISTINCT frame (the rank9
    // lesson: row-grain binning pays the corpus twice for bounds)
    val perVal = base
      .groupBy(round(col("__f") * 100, 0).cast("long").as("__v"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
        max(col("__f")).as("__thr"))
    val bounds = perVal.agg(min(col("__v")).as("__lo"),
      max(col("__v")).as("__hi"))
    val per = perVal.crossJoin(broadcast(bounds))
      .withColumn("__b",
        expr(s"((__v - __lo) * $bins) div (__hi - __lo + 1)"))
      .groupBy(col("__b"))
      .agg(sum(col("__n")).as("__n"), sum(col("__p")).as("__p"),
        max(col("__thr")).as("__thr"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy()
    val tot = per.agg(sum(col("__n")).as("__nt"), sum(col("__p")).as("__pt"))
    def g(p: Column, n: Column): Column = {
      val pD = p.cast("double"); val nD = n.cast("double")
      lit(2.0) * pD / nD * (lit(1.0) - pD / nD)
    }
    val cand = per
      .withColumn("__nl", sum(col("__n")).over(wCum))
      .withColumn("__pl", sum(col("__p")).over(wCum))
      .withColumn("__bmax", max(col("__b")).over(whole))
      .crossJoin(broadcast(tot))
      .filter(col("__b") < col("__bmax"))
      .withColumn("__nr", col("__nt") - col("__nl"))
      .withColumn("__pr", col("__pt") - col("__pl"))
      .withColumn("__gain",
        g(col("__pt"), col("__nt")) -
          (col("__nl").cast("double") / col("__nt").cast("double") *
            g(col("__pl"), col("__nl")) +
           col("__nr").cast("double") / col("__nt").cast("double") *
            g(col("__pr"), col("__nr"))))
      .withColumn("__gl", round(col("__gain") * 1e12, 0).cast("long"))
    val best = cand.agg(
      min(struct((-col("__gl")).as("__neg"), col("__b").as("__bb")))
        .as("__best"))
    cand.crossJoin(broadcast(best))
      .select(col("__b").as("split_bin"),
        round(col("__thr"), 6).as("threshold"),
        col("__nl").as("n_left"), col("__pl").as("pos_left"),
        col("__nr").as("n_right"), col("__pr").as("pos_right"),
        round(g(col("__pl"), col("__nl")), 6).as("gini_left"),
        round(g(col("__pr"), col("__nr")), 6).as("gini_right"),
        round(col("__gain"), 6).as("gini_gain"),
        (col("__b") === col("__best.__bb")).as("is_best"))
      .orderBy("split_bin")
  }

  /** Multinomial Naive Bayes text classifier, trained and scored fully
    * in-engine: the classic counting classifier (language ID, topic/
    * source routing) whose entire "training" is two keyed aggregations —
    * the model a curation pipeline can refit per-shard at 100 TB because
    * nothing is iterative and nothing leaves the cluster. Split is the
    * deterministic modulus rule (id % `testModulus` == 0 is test — the
    * probeSample seeding convention); Laplace-`alpha` smoothing over the
    * train vocabulary; test tokens unseen in training are DROPPED (the
    * standard "ignore unknown words" convention, documented here so the
    * oracle and any reimplementation agree).
    *
    * Determinism: every per-(token, label) log-likelihood and per-label
    * log-prior commits to the 1e-9 integer lattice ONCE; a document's
    * score is then Σ tf·lp + prior — exact long arithmetic in any
    * partition order — and the argmax is elected on exact longs with an
    * ascending-label tiebreak (min-struct on the negated score). No
    * float ever crosses an aggregation boundary.
    *
    * Plan: token explode → (label, token) counts (corpus-sized,
    * map-side combined) → dense vocab×label likelihood table (labels
    * are a bounded roster; vocab-linear) → one join of test-doc term
    * frequencies against it + one (doc, label) aggregation + the 1-row
    * label-roster broadcasts. No window over unbounded data, no
    * driver-side model state.
    */
  def naiveBayesText(docs: DataFrame, idCol: String, textCol: String,
                     labelCol: String, testModulus: Int = 5,
                     alpha: Double = 1.0): DataFrame = {
    require(testModulus >= 2 && testModulus <= 1000,
      s"naiveBayesText: testModulus in [2, 1000] (got $testModulus)")
    require(alpha > 0.0, s"naiveBayesText: alpha > 0 (got $alpha)")
    val base = docs.select(col(idCol).cast("long").as("__id"),
        col(labelCol).cast("string").as("__l"), col(textCol).as("__t"))
      .filter(col("__l").isNotNull && col("__t").isNotNull)
    val isTest = col("__id") % testModulus === 0
    val toks = base.select(col("__id"), col("__l"),
        explode(TextAnalysis.tokens(lower(col("__t")))).as("__tok"))
      .filter(col("__tok") =!= "")
    val counts = toks.filter(!isTest).groupBy(col("__l"), col("__tok"))
      .agg(count(lit(1)).as("__ct"))
      .localCheckpoint(eager = false)
    val totals = counts.groupBy(col("__l")).agg(sum(col("__ct")).as("__tot"))
    val vocab = counts.select(col("__tok")).distinct()
    val vSize = vocab.agg(count(lit(1)).as("__v"))
    val dense = vocab.crossJoin(broadcast(totals))
      .join(counts, Seq("__l", "__tok"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("__l"), col("__tok"),
        round(log((coalesce(col("__ct"), lit(0L)).cast("double")
            + alpha) /
          (col("__tot").cast("double")
            + lit(alpha) * col("__v").cast("double")))
          * 1e9, 0).cast("long").as("__lp"))
    val trainDocs = base.filter(!isTest)
    val priors = trainDocs.groupBy(col("__l")).agg(count(lit(1)).as("__nl"))
      .crossJoin(broadcast(trainDocs.agg(count(lit(1)).as("__nd"))))
      .select(col("__l"),
        round(log(col("__nl").cast("double") / col("__nd").cast("double"))
          * 1e9, 0).cast("long").as("__lp0"))
    val tf = toks.filter(isTest).groupBy(col("__id"), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
    val sums = tf.join(dense, Seq("__tok"))
      .groupBy(col("__id"), col("__l"))
      .agg(sum(col("__tf") * col("__lp")).as("__s"))
    val testDocs = base.filter(isTest)
      .select(col("__id"), col("__l").as("label"))
    val scored = testDocs
      .crossJoin(broadcast(priors))
      .join(sums, Seq("__id", "__l"), "left")
      .select(col("__id"), col("label"), col("__l"),
        (coalesce(col("__s"), lit(0L)) + col("__lp0")).as("__score"))
    scored.groupBy(col("__id"), col("label"))
      .agg(min(struct((-col("__score")).as("__neg"), col("__l").as("__pl")))
        .as("__best"))
      .select(col("__id").as(idCol), col("label"),
        col("__best.__pl").as("predicted"),
        round((-col("__best.__neg")).cast("double") / 1e9, 6)
          .as("log_score"),
        (col("label") === col("__best.__pl")).as("correct"))
      .orderBy(idCol)
  }

  /** Bradley–Terry strength ranking from pairwise comparisons — the
    * principled league table when entities only ever meet PAIRWISE
    * ("supplier A beat B on the orders they shared; who's strongest
    * overall?"): the minorization–maximization fixed point
    * wᵢ ← Wᵢ / Σⱼ nᵢⱼ/(wᵢ+wⱼ), mean-normalized, run for a FIXED
    * superstep count. Win counts alone misrank under uneven schedules;
    * BT credits wins by opponent strength.
    *
    * Determinism (the [[Graph.hits]] discipline): strengths live on an
    * exact 1e-9 integer lattice end to end — every division is the
    * exact integer HALF-UP (2A+B) div (2B) in decimal(38,0), every
    * fold is an exact integer sum, and the display commits to the
    * 1e-6 lattice by the same integer rounding. No float anywhere.
    * Zero-sum denominators floor at one lattice unit (all-losing
    * players keep an exact 0 without dividing by it).
    *
    * Plan per superstep: matchup-grain join against the strength
    * frame, one keyed fold, one 1-row total broadcast back — the
    * iterate-with-checkpoint shape of [[Clustering.kmeans]].
    *
    * `driverEdgeBudget`: the [[DriverGraph]] gate on the directed
    * (winner, loser) cell table, the league's edges; within it the same
    * MM loop runs on the driver.
    */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
                   loserCol: String, iterations: Int = 4,
                   checkpointDir: Option[String] = None,
                   driverEdgeBudget: Long = DriverGraph.Budget): DataFrame = {
    require(iterations >= 1 && iterations <= 12,
      s"bradleyTerry: iterations in [1, 12] (got $iterations)")
    // ONE matchup-grain pass: comparisons pre-aggregate to the DIRECTED
    // (winner, loser, count) grain — at most players² rows, usually far
    // fewer — before anything is checkpointed or re-scanned, so the
    // data-sized frame is read exactly once (round-12: this replaced
    // checkpointing the raw matchup list and scanning it twice, which
    // owned the sweep tail at sf0.1)
    val comps = Ckpt.cut(
      comparisons.select(col(winnerCol).cast("long").as("__w"),
        col(loserCol).cast("long").as("__l"))
        .filter(col("__w") =!= col("__l"))
        .groupBy(col("__w"), col("__l")).agg(count(lit(1)).as("__nwl")),
      checkpointDir)
    // under the budget the exact MM loop runs on the driver over the
    // collected cells, the league's edges ([[DriverGraph]]), instead of
    // 4 distributed jobs per run plus the pairs/nodes/nComp folds
    val small = DriverGraph.collectWithin(comps, driverEdgeBudget)
    if (small.isDefined)
      return bradleyTerryDriver(small.get, iterations, comps.sparkSession)
    val pairs = Ckpt.cut(comps
      .select(col("__w").as("__i"), col("__l").as("__j"), col("__nwl"))
      .unionByName(comps.select(col("__l").as("__i"),
        col("__w").as("__j"), col("__nwl")))
      .groupBy(col("__i"), col("__j")).agg(sum(col("__nwl")).as("__nij")),
      checkpointDir)
    val wins = comps.groupBy(col("__w").as("node"))
      .agg(sum(col("__nwl")).as("n_wins"))
    val nodes = Ckpt.cut(pairs.select(col("__i").as("node")).distinct()
      .join(wins, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_wins"), lit(0L)).as("n_wins")),
      checkpointDir)
    // The strength vector is PLAYER-grain: the old formulation already
    // collected it to the driver four times per superstep (broadcast(w),
    // broadcast(denom), broadcast(tot) are driver collects + re-plans),
    // which made the per-step JOB overhead — not the matchup fold — own
    // the sweep tail. Round 12 makes that explicit: the MATCHUP table
    // stays distributed and is folded ONCE per superstep (the only
    // data-sized work); the player-grain MM bookkeeping (raw strength,
    // mean-normalization) runs driver-side in exact BigInt on the same
    // lattice (BigInt / and decimal div both truncate toward zero on
    // these all-positive operands — bit-identical, oracle-replayed).
    // Bounded-collect posture (the mmrDiversify / seedCentroids class):
    // players are league ENTITIES, capped fail-loud at 65536 — the
    // matchup/event volume stays unbounded.
    val nodeRows = nodes.select(col("node"), col("n_wins")).collect()
    require(nodeRows.length <= 65536,
      s"bradleyTerry: ${nodeRows.length} players exceeds the 65536 " +
        "player-vector cap (the strength vector is driver-resident by " +
        "design — matchups scale, players are entities); pre-aggregate " +
        "the league or shard by division")
    val players = nodeRows.map(r => r.getLong(0)).sorted
    val winsByNode = nodeRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val E18 = BigInt("2000000000000000000")
    var w: Map[Long, Long] =
      players.map(_ -> 1000000000L).toMap
    val sess = comparisons.sparkSession
    for (_ <- 1 to iterations) {
      // ONE distributed job: per-matchup nij/(wi+wj) terms on the 1e-18
      // lattice, keyed fold to player grain (identical expression and
      // div rounding as before)
      val wDf = sess.createDataFrame(
        w.toSeq.map(kv => (kv._1, kv._2))).toDF("node", "wm")
      val denomRows = pairs
        .join(broadcast(wDf.select(col("node").as("__i"),
          col("wm").as("__wi"))), Seq("__i"))
        .join(broadcast(wDf.select(col("node").as("__j"),
          col("wm").as("__wj"))), Seq("__j"))
        .withColumn("__den0", greatest(col("__wi") + col("__wj"), lit(1L)))
        .withColumn("__term", expr(
          "CAST((CAST(__nij AS DECIMAL(38,0)) * 2000000000000000000" +
            " + __den0) div (CAST(__den0 AS DECIMAL(38,0)) * 2)" +
            " AS BIGINT)"))
        .groupBy(col("__i").as("node"))
        .agg(sum(col("__term").cast("decimal(38,0)")).as("__den"))
        .collect()
      val den: Map[Long, BigInt] = denomRows.map(r =>
        r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger).max(BigInt(1)))
        .toMap
      // driver-side player-grain MM close, exact integer half-up divs
      val raw: Map[Long, BigInt] = players.map { p =>
        val d = den.getOrElse(p, BigInt(1))
        p -> (BigInt(winsByNode(p)) * E18 + d) / (d * 2)
      }.toMap
      val tot = raw.values.sum.max(BigInt(1))
      val np = BigInt(players.length)
      w = players.map { p =>
        p -> ((raw(p) * np * BigInt(2000000000) + tot) / (tot * 2)).toLong
      }.toMap
    }
    val wDf = broadcast(sess.createDataFrame(
      w.toSeq.map(kv => (kv._1, kv._2))).toDF("node", "wm"))
    val nComp = pairs.groupBy(col("__i").as("node"))
      .agg(sum(col("__nij")).as("n_comparisons"))
    nodes.join(nComp, Seq("node"), "left")
      .join(wDf, Seq("node"))
      .select(col("node").as("player"), col("n_wins"),
        coalesce(col("n_comparisons"), lit(0L)).as("n_comparisons"),
        (expr("(wm * 2 + 1000) div 2000").cast("double") / 1e6)
          .as("strength"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("strength").desc, col("player"))).cast("long"))
      .orderBy("rank")
  }

  /** [[bradleyTerry]]'s under-budget path: the same MM fixed point on
    * the same 1e-9 lattice, computed from ONE collect of the directed
    * (winner, loser, count) cell table. Arithmetic parity with the
    * distributed form is exact: the per-matchup term is the identical
    * integer HALF-UP (2A+B) div (2B) — computed in overflow-checked
    * Long split-division with a BigInt fallback, both truncating
    * toward zero like decimal `div` on these positive operands — and
    * every fold is an exact integer sum (order-free). LearnSpec pins
    * fast ≡ distributed (`driverEdgeBudget = 0` forces the loop).
    */
  private def bradleyTerryDriver(rows: Array[Row], iterations: Int,
                                 sess: SparkSession): DataFrame = {
    import sess.implicits._
    if (rows.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Long)]
        .toDF("player", "n_wins", "n_comparisons", "strength", "rank")
    val winsBy = scala.collection.mutable.HashMap.empty[Long, Long]
    val cells = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    for (r <- rows) {
      val (wk, lk, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      winsBy(wk) = winsBy.getOrElse(wk, 0L) + n
      val key = if (wk < lk) (wk, lk) else (lk, wk)
      cells(key) = cells.getOrElse(key, 0L) + n
    }
    val players = cells.keysIterator
      .flatMap(k => Iterator(k._1, k._2)).toArray.distinct.sorted
    require(players.length <= 65536,
      s"bradleyTerry: ${players.length} players exceeds the 65536 " +
        "player-vector cap (the strength vector is driver-resident by " +
        "design — matchups scale, players are entities); pre-aggregate " +
        "the league or shard by division")
    val np = players.length
    val idx = players.zipWithIndex.toMap
    // undirected cell arrays (index grain): each cell contributes the
    // SAME term to both endpoints' denominators (den0 is symmetric)
    val ai = new Array[Int](cells.size)
    val bi = new Array[Int](cells.size)
    val nab = new Array[Long](cells.size)
    var c = 0
    for (((a, b), n) <- cells) {
      ai(c) = idx(a); bi(c) = idx(b); nab(c) = n; c += 1
    }
    val nComp = new Array[Long](np)
    for (k <- 0 until cells.size) {
      nComp(ai(k)) += nab(k); nComp(bi(k)) += nab(k)
    }
    val TwoE18 = 2000000000000000000L
    val E18 = BigInt(TwoE18)
    // exact (nij·2e18 + den0) div (2·den0): Long split-division when
    // every intermediate provably fits, else BigInt — same integer
    def term(nij: Long, den0: Long): BigInt = {
      if (den0 <= Long.MaxValue / 2) {
        val d = den0 * 2
        val q0 = TwoE18 / d
        val r0 = TwoE18 - q0 * d
        if ((q0 == 0L || nij <= Long.MaxValue / q0) &&
            (r0 == 0L || nij <= (Long.MaxValue - den0) / r0)) {
          val hi = nij * q0
          val lo = (nij * r0 + den0) / d
          if (hi <= Long.MaxValue - lo) return BigInt(hi + lo)
        }
      }
      (BigInt(nij) * E18 + den0) / (BigInt(den0) * 2)
    }
    val w = new Array[Long](np)
    java.util.Arrays.fill(w, 1000000000L)
    val one = BigInt(1)
    for (_ <- 1 to iterations) {
      val den = Array.fill(np)(BigInt(0))
      for (k <- 0 until cells.size) {
        val den0 = math.max(w(ai(k)) + w(bi(k)), 1L)
        val t = term(nab(k), den0)
        den(ai(k)) += t; den(bi(k)) += t
      }
      // identical player-grain MM close as the distributed path
      val raw = (0 until np).map { i =>
        val d = den(i).max(one)
        (BigInt(winsBy.getOrElse(players(i), 0L)) * E18 + d) / (d * 2)
      }
      val tot = raw.sum.max(one)
      val npB = BigInt(np)
      for (i <- 0 until np)
        w(i) = ((raw(i) * npB * BigInt(2000000000) + tot) / (tot * 2)).toLong
    }
    val out = (0 until np).map { i =>
      (players(i), winsBy.getOrElse(players(i), 0L), nComp(i),
        ((w(i) * 2 + 1000L) / 2000L).toDouble / 1e6)
    }.sortBy { case (p, _, _, s) => (-s, p) }
      .zipWithIndex
      .map { case ((p, nw, nc, s), r) => (p, nw, nc, s, r + 1L) }
    out.toDF("player", "n_wins", "n_comparisons", "strength", "rank")
      .orderBy("rank")
  }

  /** RANSAC line fit with HASH-SEEDED minimal samples — the robust
    * regression that survives gross outliers OLS and even Theil–Sen
    * (breakdown 29%) cannot: `arms` deterministic "random" 2-point
    * samples (per arm, the corpus argmin/argmax of a per-arm u01 hash
    * — the [[graft.ops.Gen.u01]] recipe with channel 301+arm, so any
    * engine replays the draw), each proposing the line through its
    * pair; the consensus arm is the one with the most inliers
    * (|residual| ≤ eps, ties to the smaller arm), and the answer is
    * the exact OLS refit on that arm's inliers, with the naive
    * full-data OLS beside it for contrast.
    *
    * Determinism: x/y live on centi lattices; the sample pick is an
    * exact (hash, id, x, y) total order (x/y included because a real
    * corpus can carry duplicate natural keys — the id alone is not a
    * total order, and an under-determined pick is flaky in ANY
    * engine); each candidate line and residual is
    * a fixed double tree over lattice ints (boundary ties at eps are
    * still engine-identical — same IEEE ops, same order; the
    * driver-side slope division is the same IEEE op the oracle's
    * engine performs); the refit uses exact decimal sums.
    *
    * Plan: THREE narrow corpus passes, each a single wide aggregate —
    * sample pick (2·arms codegen'd packed-long argmins in one
    * map-side-combined fold + a tiny winner-resolution pass), inlier
    * counts (arms conditional counts against LITERAL line
    * parameters), and the refit fold — with arms-bounded driver-side
    * reads in between (≤ 2·256 longs/structs by the `arms` require —
    * the vocab-trainer bounded-collect class). No row multiplication:
    * the first cut exploded ×arms and crossJoined the line table
    * (384 M intermediate rows at sf0.1, 54 s); the wide-aggregate
    * form does the same arithmetic in-row at 5.2 s (BenchOne warm,
    * 32 arms, sf0.1), cost ∝ arms·n with O(arms) shuffled rows.
    */
  def ransacLine(df: DataFrame, idCol: String, xCol: String, yCol: String,
                 eps: Double, arms: Int = 64): DataFrame = {
    require(arms >= 1 && arms <= 256, s"ransacLine: arms in [1,256]")
    require(eps > 0, s"ransacLine: eps > 0 (got $eps)")
    val M = 2147483647L
    val base = df.select(col(idCol).cast("long").as("__id"),
      round(col(xCol) * 100, 0).cast("long").as("__x"),
      round(col(yCol) * 100, 0).cast("long").as("__y"))
    def armH3(b: Int): Column = {
      val h1 = (col("__id") + lit((301L + b) * 1000003L)) % M
      val h2 = (h1 * 48271L) % M
      (h2 * 48271L) % M
    }
    // pass 1: per-arm argmin/argmax of (h3, id) as ONE codegen'd long
    // min/max per arm (u01 = (h3+1)/M is monotone in h3, so the packed
    // integer order is the (h, id) order exactly), plus the id-range
    // guard the packing needs
    val keyCols = (0 until arms).flatMap { b =>
      val k = shiftleft(armH3(b), 32) + col("__id")
      Seq(min(k).as(s"k1_$b"), max(k).as(s"k2_$b"))
    } ++ Seq(min(col("__id")).as("__minid"),
      max(col("__id")).as("__maxid"))
    val keyRow = base.agg(keyCols.head, keyCols.tail: _*).collect()(0)
    require(keyRow.getLong(keyRow.fieldIndex("__minid")) >= 0L &&
      keyRow.getLong(keyRow.fieldIndex("__maxid")) < (1L << 31),
      "ransacLine: ids must lie in [0, 2^31) for the packed argmin")
    val lowMask = (1L << 32) - 1
    val winId: Int => (Long, Long) = b =>
      (keyRow.getLong(keyRow.fieldIndex(s"k1_$b")) & lowMask,
        keyRow.getLong(keyRow.fieldIndex(s"k2_$b")) & lowMask)
    val winIds = (0 until arms).flatMap { b =>
      val (a, c) = winId(b); Seq(a, c)
    }.distinct
    // pass 1b: resolve (x, y) for the ≤ 2·arms winner ids on the tiny
    // matching subset — duplicate natural keys tiebreak by min/max
    // (x, y), completing the (h, id, x, y) total order
    val winFrame = base.filter(col("__id").isin(winIds: _*))
    val resCols = (0 until arms).flatMap { b =>
      val (id1, id2) = winId(b)
      Seq(min(when(col("__id") === id1,
          struct(col("__x").as("x"), col("__y").as("y")))).as(s"p1_$b"),
        max(when(col("__id") === id2,
          struct(col("__x").as("x"), col("__y").as("y")))).as(s"p2_$b"))
    }
    val pickRow = winFrame.agg(resCols.head, resCols.tail: _*).collect()(0)
    // derive the arms candidate lines driver-side (bounded by `arms`);
    // slope division is the identical IEEE op the oracle engine runs
    case class Line(b: Int, x1: Long, y1: Long, m: Double, ok: Boolean)
    val lines = (0 until arms).map { b =>
      val p1 = pickRow.getStruct(pickRow.fieldIndex(s"p1_$b"))
      val p2 = pickRow.getStruct(pickRow.fieldIndex(s"p2_$b"))
      val (x1, y1) = (p1.getLong(0), p1.getLong(1))
      val (x2, y2) = (p2.getLong(0), p2.getLong(1))
      val ok = x2 != x1
      Line(b, x1, y1,
        if (ok) (y2 - y1).toDouble / (x2 - x1).toDouble else 0.0, ok)
    }
    val epsC = eps * 100.0
    def resid(l: Line): Column =
      abs(col("__y").cast("double") - (lit(l.y1.toDouble) +
        lit(l.m) * (col("__x") - lit(l.x1)).cast("double")))
    // pass 2: arms conditional inlier counts against literal lines
    val cntCols = lines.map { l =>
      (if (l.ok) count(when(resid(l) <= epsC, lit(1)))
       else lit(-1L)).as(s"c_${l.b}")
    }
    val cntRow = base.agg(cntCols.head, cntCols.tail: _*).collect()(0)
    val best = lines.map(l => (l, cntRow.getLong(cntRow.fieldIndex(s"c_${l.b}"))))
      .maxBy { case (l, c) => (c, -l.b) }
    val bestLine = best._1
    // pass 3: exact OLS refit on the winning inliers + naive full OLS
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val inFlag =
      if (bestLine.ok) resid(bestLine) <= epsC else lit(false)
    def sums(flag: Column, tag: String) = Seq(
      count(when(flag, lit(1))).as(s"n$tag"),
      coalesce(sum(when(flag, col("__x"))), lit(0L)).as(s"sx$tag"),
      coalesce(sum(when(flag, col("__y"))), lit(0L)).as(s"sy$tag"),
      coalesce(sum(when(flag, dec(col("__x")) * col("__y"))),
        lit(0L).cast("decimal(38,0)")).as(s"sxy$tag"),
      coalesce(sum(when(flag, dec(col("__x")) * col("__x"))),
        lit(0L).cast("decimal(38,0)")).as(s"sxx$tag"))
    val allSums = sums(inFlag, "i") ++ sums(lit(true), "a")
    val f = base.agg(allSums.head, allSums.tail: _*)
    def d(c: String) = col(c).cast("double")
    def fit(tag: String): (Column, Column, Column) = {
      val nD = d(s"n$tag")
      val cxy = d(s"sxy$tag") - d(s"sx$tag") * d(s"sy$tag") / nD
      val cxx = d(s"sxx$tag") - d(s"sx$tag") * d(s"sx$tag") / nD
      val ok = col(s"n$tag") >= 2 && cxx > 0
      val slope = cxy / cxx
      val icept = d(s"sy$tag") / nD - slope * (d(s"sx$tag") / nD)
      (when(ok, slope), when(ok, icept / 100.0), ok)
    }
    val (mi, ai, _) = fit("i")
    val (ma, aa, _) = fit("a")
    f.select(lit(bestLine.b).as("best_arm"), col("na").as("n"),
      col("ni").as("n_inliers"),
      round(col("ni").cast("double") / col("na").cast("double"), 6)
        .as("inlier_share"),
      round(mi, 6).as("ransac_slope"),
      round(ai, 6).as("ransac_intercept"),
      round(ma, 6).as("ols_slope"),
      round(aa, 6).as("ols_intercept"))
  }

  /** Two-component 1-D Gaussian mixture by EM on the BOUNDED histogram
    * grain — model-based segmentation ("is this distribution one
    * population or two?") next to the hard k-means partition: the corpus
    * commits to `bins` integer lattice bins in ONE pass (the
    * [[Drift.latticeBin]] recipe — (xc−lo)·B div (hi−lo+1), no doubles
    * near a boundary), and every EM round runs on ≤`bins` rows.
    *
    * Determinism (the engine-replay contract): responsibilities commit
    * to the 1e-6 lattice per (bin, round) BEFORE any weighted fold, so
    * the M-step moment sums are exact 128-bit integers in (2b+1) units —
    * Σ c·r6, Σ c·r6·(2b+1), Σ c·r6·(2b+1)² — and the new parameters are
    * one fixed double tree over them; the per-round component constants
    * ln w − ½ln σ² commit to the 1e-9 lattice so the log-odds tree is
    * pure arithmetic between lattice points. Init is deterministic:
    * means at the 25%/75% span points, shared variance = the exact
    * corpus variance, equal weights. Fixed `rounds` (no convergence
    * test). The final row carries the average log-likelihood (per-bin
    * ln committed to 1e-9 before the count-weighted integer fold).
    *
    * Plan: one corpus scan (bounds + moments + bin histogram, the
    * histogram localCheckpoint'd at ≤`bins` rows); each round is a
    * 1-row parameter broadcast onto the bin frame and one ≤`bins`-row
    * aggregation. Nothing downstream of the first pass touches the
    * corpus.
    */
  def gmmEm(df: DataFrame, valueCol: String, bins: Int = 256,
            rounds: Int = 3): DataFrame = {
    val (histo, params) = gmmFit(df, valueCol, bins, rounds)
    gmmReadout(histo, params, bins)
  }

  /** The fitted (histogram, params) pair behind [[gmmEm]] / [[gmmBic]]. */
  private def gmmFit(df: DataFrame, valueCol: String, bins: Int,
                     rounds: Int): (DataFrame, DataFrame) = {
    require(bins >= 8 && bins <= 4096,
      s"gmmEm: bins in [8, 4096] (got $bins)")
    require(rounds >= 1 && rounds <= 8,
      s"gmmEm: rounds in [1, 8] (got $rounds)")
    val v = col(valueCol).cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = df.filter(v.isNotNull && !isnan(v))
      .select(round(v * 100, 0).cast("long").as("__xc"))
    val moments = base.agg(min(col("__xc")).as("__lo"),
      max(col("__xc")).as("__hi"), count(lit(1)).as("__n"),
      sum(col("__xc")).as("__s"),
      sum(dec(col("__xc")) * col("__xc")).as("__q"))
    val histo = base.crossJoin(broadcast(moments))
      .withColumn("__b",
        expr(s"((__xc - __lo) * $bins) div (__hi - __lo + 1)"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(moments))
      .localCheckpoint() // <= bins rows; one corpus pass total
    val nD = col("__n").cast("double")
    val loD = col("__lo").cast("double") / 100.0
    val rD = (col("__hi") - col("__lo") + lit(1L)).cast("double")
    val span = rD / 100.0
    val width = rD / lit(100.0 * bins)
    val var0 = (col("__q").cast("double") / 1e4 -
      (col("__s").cast("double") / 1e2) *
        (col("__s").cast("double") / 1e2) / nD) / nD
    // degenerate-corpus guard: a constant column gives var0 = 0, whose
    // ln/divisions would fan out -Inf/NaN (and Spark's round(-Inf)::long
    // silently wraps to Long.MinValue where a SQL oracle's cast errors) —
    // start from NULL params instead, which propagate NULL through every
    // round and the readout
    val var0g = when(var0 > lit(0.0), var0)
    // params frame: one row carrying (w1, mu1, v1, mu2, v2) + the carried
    // corpus stats the final readout needs
    var params = moments.select(col("__n"), col("__lo"), col("__hi"),
      when(var0 > lit(0.0), lit(0.5)).as("__w1"),
      (loD + lit(0.25) * span).as("__mu1"), var0g.as("__v1"),
      (loD + lit(0.75) * span).as("__mu2"), var0g.as("__v2"))
    val mb = loD + (col("__b") * lit(2L) + lit(1L)).cast("double") *
      width / 2.0
    for (_ <- 1 to rounds) {
      val p = params.select(col("__w1").as("__pw1"),
        col("__mu1").as("__pmu1"), col("__v1").as("__pv1"),
        col("__mu2").as("__pmu2"), col("__v2").as("__pv2"),
        // component constants ln w - 0.5 ln v on the 1e-9 lattice
        round((log(col("__w1")) - lit(0.5) * log(col("__v1"))) * 1e9, 0)
          .cast("long").as("__k1"),
        round((log(lit(1.0) - col("__w1")) -
          lit(0.5) * log(col("__v2"))) * 1e9, 0).cast("long").as("__k2"))
      val e = histo.crossJoin(broadcast(p))
        .withColumn("__d",
          (col("__k1") - col("__k2")).cast("double") / 1e9 -
            (mb - col("__pmu1")) * (mb - col("__pmu1")) /
              (lit(2.0) * col("__pv1")) +
            (mb - col("__pmu2")) * (mb - col("__pmu2")) /
              (lit(2.0) * col("__pv2")))
        .withColumn("__r6",
          round(lit(1.0) / (lit(1.0) + exp(lit(0.0) - col("__d"))) * 1e6,
            0).cast("long"))
      val tb = col("__b") * lit(2L) + lit(1L)
      val m = e.groupBy().agg(
        first(col("__n")).as("__n"), first(col("__lo")).as("__lo"),
        first(col("__hi")).as("__hi"),
        sum(dec(col("__c")) * col("__r6")).as("__n1"),
        sum(dec(col("__c")) * (lit(1000000L) - col("__r6"))).as("__n2"),
        sum(dec(col("__c")) * col("__r6") * tb).as("__s1"),
        sum(dec(col("__c")) * (lit(1000000L) - col("__r6")) * tb)
          .as("__s2"),
        sum(dec(col("__c")) * col("__r6") * tb * tb).as("__q1"),
        sum(dec(col("__c")) * (lit(1000000L) - col("__r6")) * tb * tb)
          .as("__q2"))
      def newcomp(nC: String, sC: String, qC: String)
          : (Column, Column) = {
        val nn = col(nC).cast("double")
        val eMean = width * (col(sC).cast("double") / (lit(2.0) * nn))
        val vv = width * width * (col(qC).cast("double") /
          (lit(4.0) * nn)) - eMean * eMean
        (loD + eMean, vv)
      }
      val cand = m.select(col("__n"), col("__lo"), col("__hi"),
        col("__n1"), col("__n2"),
        newcomp("__n1", "__s1", "__q1")._1.as("__cmu1"),
        newcomp("__n1", "__s1", "__q1")._2.as("__cv1"),
        newcomp("__n2", "__s2", "__q2")._1.as("__cmu2"),
        newcomp("__n2", "__s2", "__q2")._2.as("__cv2"))
      // degenerate-round guard: an emptied component (n1/n2 = 0) or a
      // zero-variance component would send the next round's ln through
      // -Inf/NaN — emit all-NULL params instead (all-or-nothing, so a
      // params row is either fully valid or fully NULL)
      val ok = col("__n1") > lit(0) && col("__n2") > lit(0) &&
        col("__cv1") > lit(0.0) && col("__cv2") > lit(0.0)
      params = cand.select(col("__n"), col("__lo"), col("__hi"),
        when(ok, col("__n1").cast("double") /
          (col("__n1").cast("double") + col("__n2").cast("double")))
          .as("__w1"),
        when(ok, col("__cmu1")).as("__mu1"),
        when(ok, col("__cv1")).as("__v1"),
        when(ok, col("__cmu2")).as("__mu2"),
        when(ok, col("__cv2")).as("__v2"))
    }
    (histo, params)
  }

  private def gmmMb(bins: Int): Column = {
    val loD = col("__lo").cast("double") / 100.0
    val width = (col("__hi") - col("__lo") + lit(1L)).cast("double") /
      lit(100.0 * bins)
    loD + (col("__b") * lit(2L) + lit(1L)).cast("double") * width / 2.0
  }

  /** [[gmmEm]]'s final readout over a fitted (histo, params) pair. */
  private def gmmReadout(histo: DataFrame, params: DataFrame,
                         bins: Int): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mb = gmmMb(bins)
    // final readout + count-weighted average log-likelihood
    val twoPi = lit(6.283185307179586)
    val pf = params.select(col("__n").as("__fn"), col("__w1"),
      col("__mu1"), col("__v1"), col("__mu2"), col("__v2"))
    val ll = histo.crossJoin(broadcast(pf))
      .withColumn("__dens",
        col("__w1") * exp(lit(0.0) - (mb - col("__mu1")) *
          (mb - col("__mu1")) / (lit(2.0) * col("__v1"))) /
          sqrt(twoPi * col("__v1")) +
        (lit(1.0) - col("__w1")) * exp(lit(0.0) - (mb - col("__mu2")) *
          (mb - col("__mu2")) / (lit(2.0) * col("__v2"))) /
          sqrt(twoPi * col("__v2")))
      .withColumn("__ll9", round(log(col("__dens")) * 1e9, 0).cast("long"))
      .groupBy().agg(first(col("__fn")).as("n"),
        first(col("__w1")).as("__w1"), first(col("__mu1")).as("__mu1"),
        first(col("__v1")).as("__v1"), first(col("__mu2")).as("__mu2"),
        first(col("__v2")).as("__v2"),
        sum(dec(col("__c")) * col("__ll9")).as("__tll"))
    ll.select(col("n"),
      round(col("__w1"), 6).as("w1"),
      round(col("__mu1"), 6).as("mu1"),
      round(sqrt(col("__v1")), 6).as("sigma1"),
      round(lit(1.0) - col("__w1"), 6).as("w2"),
      round(col("__mu2"), 6).as("mu2"),
      round(sqrt(col("__v2")), 6).as("sigma2"),
      round(col("__tll").cast("double") /
        (lit(1e9) * col("n").cast("double")), 6).as("avg_loglik"))
  }

  /** Model selection over [[gmmEm]]: BIC of the 2-component fit vs the
    * single Gaussian on the SAME lattice histogram — "is the second
    * component statistically justified, or is this one population".
    * BIC = k·ln n − 2·LL with k = 5 (w, μ₁, σ₁², μ₂, σ₂²) vs k = 2;
    * the single-Gaussian LL uses the analytic log-density (no exp/ln
    * round trip) with the exact corpus moments as its MLE parameters.
    * Per-bin log-densities commit to the 1e-9 lattice before the
    * count-weighted integer folds (the [[gmmEm]] contract).
    */
  def gmmBic(df: DataFrame, valueCol: String, bins: Int = 256,
             rounds: Int = 3): DataFrame = {
    val (histo, params) = gmmFit(df, valueCol, bins, rounds)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mb = gmmMb(bins)
    val twoPi = lit(6.283185307179586)
    val nD = col("__n").cast("double")
    val mu0 = col("__s").cast("double") / (lit(100.0) * nD)
    val v0raw = (col("__q").cast("double") / 1e4 -
      (col("__s").cast("double") / 1e2) *
        (col("__s").cast("double") / 1e2) / nD) / nD
    // same degenerate guard as gmmFit: a constant column has v0 = 0, whose
    // analytic log-density is -Inf — emit NULL likelihoods instead
    val v0 = when(v0raw > lit(0.0), v0raw)
    val pf = params.select(col("__w1"), col("__mu1"), col("__v1"),
      col("__mu2"), col("__v2"))
    val folded = histo.crossJoin(broadcast(pf))
      .withColumn("__ll2_9", round(log(
        col("__w1") * exp(lit(0.0) - (mb - col("__mu1")) *
          (mb - col("__mu1")) / (lit(2.0) * col("__v1"))) /
          sqrt(twoPi * col("__v1")) +
        (lit(1.0) - col("__w1")) * exp(lit(0.0) - (mb - col("__mu2")) *
          (mb - col("__mu2")) / (lit(2.0) * col("__v2"))) /
          sqrt(twoPi * col("__v2"))) * 1e9, 0).cast("long"))
      .withColumn("__ll1_9", round((lit(0.0) -
        (mb - mu0) * (mb - mu0) / (lit(2.0) * v0) -
        lit(0.5) * log(twoPi * v0)) * 1e9, 0).cast("long"))
      .groupBy().agg(first(col("__n")).as("n"),
        sum(dec(col("__c")) * col("__ll1_9")).as("__t1"),
        sum(dec(col("__c")) * col("__ll2_9")).as("__t2"))
    val l1 = col("__t1").cast("double") / 1e9
    val l2 = col("__t2").cast("double") / 1e9
    val lnN = log(col("n").cast("double"))
    val bic1 = lit(2.0) * lnN - lit(2.0) * l1
    val bic2 = lit(5.0) * lnN - lit(2.0) * l2
    folded.select(col("n"),
      round(l1, 6).as("loglik_1"),
      round(l2, 6).as("loglik_2"),
      round(bic1, 6).as("bic_1"),
      round(bic2, 6).as("bic_2"),
      round(bic1 - bic2, 6).as("delta_bic"),
      (bic2 < bic1).as("prefer_two"))
  }
}
