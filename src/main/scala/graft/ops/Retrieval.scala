package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DayTimeIntervalType, TimestampNTZType, TimestampType}
import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}

/** Feature-retrieval joins (SURVEY.md §2.4, J1–J4) — the feature-store
  * crown jewels the reference delegates to Feast.
  *
  * J1 `asOfJoin` is `get_historical_features` (`drift_detection.py:260-269`):
  * for each probe `(entity, ts)`, the newest feature row with
  * `feature_ts <= ts` and `feature_ts >= ts - ttl`, else NULLs (probe row
  * preserved).
  *
  * It runs one operator, the sort-merge `graft.plans.AsOfJoinExec`, NOT a
  * range join: both sides are hash-clustered on the entity key and sorted
  * by (key, ts), then each partition is merged in one streaming pass that
  * buffers one feature row per key. Cost: one hash shuffle per side (none
  * over bucketed-sorted tables) — the shape of a sort-merge join. The
  * naive `join(f.ts <= e.ts && f.ts >= e.ts - ttl)` degrades to
  * BroadcastNestedLoopJoin (a 100 TB cartesian death sentence); this never
  * does.
  */
object Retrieval {

  /** J1: point-in-time (as-of) join with TTL.
    *
    * NULLs follow SQL three-valued logic: a probe with a NULL key or time
    * keeps its row with NULL features; a feature row with a NULL key or
    * time never matches.
    *
    * @param probes   entity probes; columns `key`, `probeTs` + payload
    * @param features feature history; columns `key`, `featureTs` + feature cols;
    *                 must be unique per (key, featureTs) — pre-aggregate if not
    *                 (ties on feature_ts would otherwise be order-dependent);
    *                 `key` has the same type on both sides, each time column
    *                 is a `date`, `timestamp` or `timestamp_ntz`
    * @param ttl      lookback horizon, a day-time interval such as
    *                 "INTERVAL 7 DAYS"; a year-month interval has no fixed
    *                 length and is rejected
    * @param featureCols feature value columns to attach
    * @return every probe column, then `featureCols`, then `feature_ts`
    */
  def asOfJoin(probes: DataFrame, features: DataFrame, key: String,
               probeTs: String, featureTs: String, ttl: String,
               featureCols: Seq[String]): DataFrame = {
    val ttlMicros = scala.util.Try(CatalystSqlParser.parseExpression(ttl)) match {
      case scala.util.Success(Literal(micros: Long, _: DayTimeIntervalType)) => micros
      case _ => throw new IllegalArgumentException(
        s"asOfJoin: TTL must be a day-time interval, got '$ttl'")
    }
    val pType = probes.schema(probeTs).dataType
    val fType = features.schema(featureTs).dataType
    val times = Seq(DateType, TimestampType, TimestampNTZType)
    require(times.contains(pType) && times.contains(fType),
      s"asOfJoin: $probeTs/$featureTs must be date or timestamp, got $pType/$fType")
    require(probes.schema(key).dataType == features.schema(key).dataType,
      s"asOfJoin: $key has different types on the probe and feature sides")
    // the exec compares raw longs, so both times must reach it in one
    // micros unit: a DATE (days) or a timestamp/timestamp_ntz mix is cast
    // into a hidden join column; payload columns keep their types
    val joinType = (pType, fType) match {
      case (p, f) if p == f && p != DateType => None
      case (TimestampNTZType | DateType, TimestampNTZType | DateType) =>
        Some(TimestampNTZType)
      case _ => Some(TimestampType)
    }
    val probeSide = joinType.fold(probes)(t =>
      probes.withColumn("__asof_ts", col(probeTs).cast(t)))
    // only (key, ts, featureCols) cross the exchange; NULL-keyed or
    // NULL-timed feature rows can never match, so they never ship
    val featureSide = features
      .filter(col(key).isNotNull && col(featureTs).isNotNull)
      .select((col(key).as("__asof_key") +: col(featureTs).as("feature_ts") +:
        featureCols.map(col)) ++
        joinType.map(t => col(featureTs).cast(t).as("__asof_fts")): _*)
    val spark = probes.sparkSession
    GraftSqlBridge.injectStrategy(spark, AsOfJoinStrategy)
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
        GraftSqlBridge.analyzedPlan(probeSide),
        GraftSqlBridge.analyzedPlan(featureSide),
        key, joinType.fold(probeTs)(_ => "__asof_ts"),
        "__asof_key", joinType.fold("feature_ts")(_ => "__asof_fts"),
        ttlMicros))
      .select((probes.columns ++ featureCols :+ "feature_ts").map(col): _*)
  }

  /** J2: online point lookup — `get_online_features`
    * (`scripts/inference_service.py:76-105`): key set, LEFT-joined against the
    * latest-per-key snapshot (A12), missing entities kept as NULL rows.
    * The snapshot side is broadcast — an online lookup against a bounded
    * entity dimension must never shuffle the probe stream.
    */
  def pointLookup(keys: DataFrame, snapshot: DataFrame, key: String): DataFrame =
    keys.join(broadcast(snapshot), Seq(key), "left")

  /** J3: feature-ref selection — `view:feature` refs rendered as
    * `view__feature` columns (`inference_service.py:20-31`).
    */
  def selectFeatureRefs(df: DataFrame, view: String, features: Seq[String],
                        keep: Seq[String]): DataFrame =
    df.select(keep.map(col) ++
      features.map(f => col(f).as(s"${view}__$f")): _*)

  /** J4: enrichment join — denormalize profile attributes onto the event
    * stream (`stream_generator.py:184-203`). Dimension side broadcast.
    */
  /** Future-window binary labels — the FORWARD mirror of the as-of join:
    * where point-in-time retrieval looks back ("features as of t"), label
    * generation looks ahead ("did the target event happen within the
    * horizon after t?") — the churn / conversion / next-purchase training
    * label. For each row, `label` is true iff the same key has a row
    * matching `target` later in (ts, id) order with ts ≤ t + horizon;
    * `next_target_ts` carries the matched timestamp for lag features
    * (NULL when none).
    *
    * One per-key window, no self-join: the next qualifying timestamp is
    * `min(when(target, ts))` over the rows-following frame — sort bounded
    * by one key's history, the [[graft.ops.Stats.rollingFeatures]]
    * posture. Same-timestamp rows count as "after" in row order (ties
    * broken by id) — deterministic, and the honest convention for
    * simultaneous events.
    *
    * Leakage warning (why this lives next to as-of): a row whose horizon
    * extends past a train/test cutoff has a label computed FROM the test
    * period — pair with [[graft.ops.Sampling.temporalSplit]] and an
    * embargo ≥ horizon.
    */
  def futureLabels(events: DataFrame, key: String, ts: String, id: String,
                   target: Column, horizon: String): DataFrame = {
    require(!events.columns.contains("next_target_ts") &&
      !events.columns.contains("label"),
      "futureLabels: input already has a next_target_ts/label column")
    val following = Window.partitionBy(col(key))
      .orderBy(col(ts), col(id))
      .rowsBetween(1, Window.unboundedFollowing)
    events
      .withColumn("next_target_ts",
        min(when(target, col(ts))).over(following))
      .withColumn("label",
        col("next_target_ts").isNotNull &&
          col("next_target_ts") <= col(ts) + expr(s"INTERVAL $horizon"))
  }

  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Time-since-last-target — the BACKWARD mirror of [[futureLabels]]:
    * for each row, the timestamp of the same key's most recent PRIOR row
    * matching `target` (strictly before in (ts, id) order) and the
    * elapsed seconds since it — recency features ("seconds since last
    * purchase") computed exactly like a running as-of self-join, with
    * the same single per-key window and no self-join. NULL when the key
    * has no prior target (a feature, not a miss: "never purchased" is
    * signal).
    */
  def timeSinceTarget(events: DataFrame, key: String, ts: String,
                      id: String, target: Column): DataFrame = {
    require(!events.columns.contains("last_target_ts") &&
      !events.columns.contains("secs_since_target"),
      "timeSinceTarget: input already has an output column")
    val preceding = Window.partitionBy(col(key))
      .orderBy(col(ts), col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("last_target_ts",
        max(when(target, col(ts))).over(preceding))
      .withColumn("secs_since_target",
        round((unix_micros(col(ts).cast("timestamp")) -
          unix_micros(col("last_target_ts").cast("timestamp"))) / 1e6, 6))
  }

  /** First-order Markov transition matrix over the per-key event
    * sequence: P(next = b | current = a) with counts — the sequence-model
    * feature ("what usually follows a cart-add?") and the drift monitor
    * for behavioral flow. `lead` over the per-key (ts, id) window forms
    * the (a, b) pairs (ONE key shuffle, per-key-bounded sort); the pair
    * counts and row-conditional probabilities fold over a table bounded
    * by |domain|² — never corpus-sized. Sequence-final events (no next)
    * are excluded, standard Markov estimation.
    */
  def transitionMatrix(events: DataFrame, key: String, ts: String,
                       id: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val pairs = events
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(stateCol).as("from_state"), col("__next").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val rowTotal = Window.partitionBy(col("from_state"))
    pairs
      .withColumn("p", round(col("n") / sum(col("n")).over(rowTotal), 6))
      .orderBy("from_state", "to_state")
  }

  /** Shared chain derivation for the three Markov readouts: collect the
    * |states|²-bounded transition counts (the codebook precedent), sort
    * the observed roster, and build the exact-integer-division transition
    * matrix with self-loop completion. When `expectedStates` is declared
    * (the companion oracle SQL hardcodes its roster), an observed roster
    * that differs — a corpus slice missing an event type, or a new type
    * appearing — fails LOUD here instead of silently diverging from the
    * oracle in row count and matrix shape.
    */
  private def observedChain(events: DataFrame, key: String, ts: String,
                            id: String, stateCol: String,
                            expectedStates: Seq[String], op: String)
      : (Seq[String], Array[Array[Double]]) = {
    // Bounded pre-probe BEFORE the |states|² count collect: on
    // adversarial data with millions of distinct states the count
    // table itself is data-sized, so cap the roster first with a
    // distributed distinct that ships ≤65 rows to the driver.
    val probe = events.select(col(stateCol)).filter(col(stateCol).isNotNull)
      .distinct().limit(65).collect().map(_.getString(0))
    require(probe.length <= 64,
      s"$op: observed >64 distinct states (sample: " +
        probe.take(8).sorted.mkString("[", ", ", ", ...]") +
        ") — the chain collects a |states|^2 table; declare/clean the " +
        "roster first")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val counts = events
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(stateCol).as("f"), col("__next").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val states = counts.keysIterator
      .flatMap { case (f, t) => Iterator(f, t) }.toSeq.distinct.sorted
    if (expectedStates.nonEmpty) {
      val exp = expectedStates.sorted
      require(states == exp,
        s"$op: observed state roster ${states.mkString("[", ", ", "]")} " +
        s"differs from the declared roster ${exp.mkString("[", ", ", "]")}" +
        " — the companion oracle hardcodes the roster, so a drifted " +
        "corpus must fail loud, not hash-flake")
    }
    val d = states.length
    val totals = states.map(f =>
      states.foldLeft(0L)((acc, t) => acc + counts.getOrElse((f, t), 0L)))
    val p = Array.tabulate(d, d) { (i, j) =>
      if (totals(i) == 0L) { if (i == j) 1.0 else 0.0 }
      else counts.getOrElse((states(i), states(j)), 0L).toDouble / totals(i)
    }
    (states, p)
  }

  /** Stationary distribution of the [[transitionMatrix]] chain: where the
    * behavioral flow settles in the long run — the one-number-per-state
    * summary of the whole transition structure (which states accumulate
    * sessions, which are transient). Fixed-count power iteration
    * v ← normalize(v·P) from uniform, on the BOUNDED |states|² count
    * table collected driver-side (the codebook precedent; probabilities
    * are exact-integer divisions, so both engines iterate identical
    * doubles and the oracle unrolls the same steps). A state with no
    * observed outgoing transition self-loops (row-stochastic completion).
    */
  def markovSteadyState(events: DataFrame, key: String, ts: String,
                        id: String, stateCol: String,
                        iterations: Int = 30,
                        expectedStates: Seq[String] = Nil): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"markovSteadyState: iterations in [1, 100] (got $iterations)")
    val spark = events.sparkSession
    val (states, p) = observedChain(events, key, ts, id, stateCol,
      expectedStates, "markovSteadyState")
    val d = states.length
    require(d >= 1, "markovSteadyState: no transitions observed")
    val v = steadyVec(p, d, iterations)
    import spark.implicits._
    states.zip(v).map { case (st, pr) => (st, pr) }
      .toDF("state", "stationary")
      .select(col("state"), round(col("stationary"), 6).as("stationary"))
      .orderBy("state")
  }

  /** Power iteration to the stationary vector — the EXACT arithmetic
    * sequence (ascending-i folds, renormalize each step) both
    * [[markovSteadyState]] and [[markovEntropyRate]] share with their
    * oracles' unrolled CTE replay. */
  private def steadyVec(p: Array[Array[Double]], d: Int,
                        iterations: Int): Array[Double] = {
    var v = Array.fill(d)(1.0 / d)
    for (_ <- 1 to iterations) {
      val nv = Array.tabulate(d)(j =>
        (0 until d).foldLeft(0.0)((acc, i) => acc + v(i) * p(i)(j)))
      val s = nv.foldLeft(0.0)(_ + _)
      v = nv.map(_ / s)
    }
    v
  }

  /** Entropy rate of the behavioral Markov chain:
    * H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ — "how many nats of surprise per step
    * does a user's NEXT action carry once you know the current one" —
    * with the per-state conditional entropies and the predictability
    * score 1 − H/ln d (0 = uniformly random next action, 1 = fully
    * deterministic journeys). The one-number answer to "is behavior
    * model-able at all", next to [[markovSteadyState]]'s "where do
    * users spend their time".
    *
    * Same chain derivation and power iteration as the steady state
    * (bounded d×d driver matrix, declared-roster fail-loud); the
    * entropy folds run in fixed ascending order and ln d is computed
    * ONCE here — the oracle embeds the identical literal.
    */
  def markovEntropyRate(events: DataFrame, key: String, ts: String,
                        id: String, stateCol: String,
                        iterations: Int = 30,
                        expectedStates: Seq[String] = Nil): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"markovEntropyRate: iterations in [1, 100] (got $iterations)")
    val spark = events.sparkSession
    val (states, p) = observedChain(events, key, ts, id, stateCol,
      expectedStates, "markovEntropyRate")
    val d = states.length
    require(d >= 2, s"markovEntropyRate: need >= 2 states (got $d)")
    val v = steadyVec(p, d, iterations)
    val h = Array.tabulate(d)(i => -(0 until d).foldLeft(0.0)((acc, j) =>
      if (p(i)(j) > 0) acc + p(i)(j) * math.log(p(i)(j)) else acc))
    val rate = (0 until d).foldLeft(0.0)((acc, i) => acc + v(i) * h(i))
    val pred = 1.0 - rate / math.log(d.toDouble)
    import spark.implicits._
    states.indices.map(i => (states(i), v(i), h(i), rate, pred))
      .toDF("state", "__pi", "__h", "__rate", "__pred")
      .select(col("state"), round(col("__pi"), 6).as("stationary"),
        round(col("__h"), 6).as("h_state"),
        round(col("__rate"), 6).as("entropy_rate"),
        round(col("__pred"), 6).as("predictability"))
      .orderBy("state")
  }

  /** ln(d) literal for [[markovEntropyRate]]'s oracle — computed once
    * here so both engines divide by the IDENTICAL double. */
  def lnStatesLiteral(d: Int): String =
    java.lang.Double.toString(math.log(d.toDouble))

  /** Expected transitions until first reaching `target`, from every
    * state of the [[transitionMatrix]] chain — the step-count companion
    * to [[Eval.timeToConvert]]'s wall-clock view: h(target) = 0,
    * h(i) = 1 + Σⱼ P(i,j)·h(j), computed by `iterations` unrolled value-
    * iteration steps from h = 0 (the truncated expectation — the exact
    * hitting time capped at the iteration budget; states that cannot
    * reach the target report the cap's partial sum rather than
    * diverging). Same bounded-matrix/exact-division determinism contract
    * as [[markovSteadyState]]; the oracle unrolls identical steps.
    */
  def markovHittingSteps(events: DataFrame, key: String, ts: String,
                         id: String, stateCol: String, target: String,
                         iterations: Int = 60,
                         expectedStates: Seq[String] = Nil): DataFrame = {
    require(iterations >= 1 && iterations <= 200,
      s"markovHittingSteps: iterations in [1, 200] (got $iterations)")
    val spark = events.sparkSession
    val (states, p) = observedChain(events, key, ts, id, stateCol,
      expectedStates, "markovHittingSteps")
    require(states.contains(target),
      s"markovHittingSteps: target '$target' never observed")
    val d = states.length
    val ti = states.indexOf(target)
    var h = Array.fill(d)(0.0)
    for (_ <- 1 to iterations) {
      h = Array.tabulate(d)(i =>
        if (i == ti) 0.0
        else 1.0 + (0 until d).foldLeft(0.0)((acc, j) =>
          acc + p(i)(j) * h(j)))
    }
    import spark.implicits._
    states.zip(h).toSeq.toDF("state", "hit")
      .select(col("state"), round(col("hit"), 6).as("expected_steps"))
      .orderBy("state")
  }

  /** Competing-risks absorption: P(reach `win` before `lose`) from every
    * state — "does this session convert before it errors out", the
    * outcome-odds companion to [[markovHittingSteps]]' step counts.
    * Value iteration a ← P·a with the `win` row pinned to 1 and the
    * `lose` row to 0 (truncated at the iteration budget, converging from
    * below). Same bounded-matrix/exact-division determinism contract.
    */
  def markovAbsorbProb(events: DataFrame, key: String, ts: String,
                       id: String, stateCol: String, win: String,
                       lose: String, iterations: Int = 60,
                       expectedStates: Seq[String] = Nil): DataFrame = {
    require(iterations >= 1 && iterations <= 200,
      s"markovAbsorbProb: iterations in [1, 200] (got $iterations)")
    require(win != lose, "markovAbsorbProb: win and lose must differ")
    val spark = events.sparkSession
    val (states, p) = observedChain(events, key, ts, id, stateCol,
      expectedStates, "markovAbsorbProb")
    require(states.contains(win) && states.contains(lose),
      s"markovAbsorbProb: '$win' and '$lose' must both be observed")
    val d = states.length
    val wi = states.indexOf(win)
    val li = states.indexOf(lose)
    var a = Array.tabulate(d)(i => if (i == wi) 1.0 else 0.0)
    for (_ <- 1 to iterations) {
      a = Array.tabulate(d) { i =>
        if (i == wi) 1.0
        else if (i == li) 0.0
        else (0 until d).foldLeft(0.0)((acc, j) => acc + p(i)(j) * a(j))
      }
    }
    import spark.implicits._
    states.zip(a).toSeq.toDF("state", "p")
      .select(col("state"), round(col("p"), 6).as("p_win_first"))
      .orderBy("state")
  }

  /** Top-k behavioral path trigrams: the most frequent 3-step event
    * sequences across all per-key journeys, with each trigram's share
    * of all observed trigrams — the "what do sessions actually DO"
    * readout one order above [[transitionMatrix]]'s pairs (a chain that
    * passes the trigram test rarely needs more memory; one that fails
    * it does — the practical Markov-order diagnostic).
    *
    * Plan: one per-key window pass (two leads), one keyed count, a
    * TakeOrdered top-k on (count desc, trigram asc) — deterministic,
    * never a global sort of the full trigram table.
    */
  def pathTrigrams(events: DataFrame, key: String, ts: String,
                   id: String, stateCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"pathTrigrams: k in [1, 1000] (got $k)")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val tri = events
      .withColumn("__s2", lead(col(stateCol), 1).over(w))
      .withColumn("__s3", lead(col(stateCol), 2).over(w))
      .filter(col("__s2").isNotNull && col("__s3").isNotNull)
      .groupBy(col(stateCol).as("step1"), col("__s2").as("step2"),
        col("__s3").as("step3"))
      .agg(count(lit(1)).as("n"))
    val total = tri.agg(sum(col("n")).as("__tot"))
    tri.crossJoin(broadcast(total))
      .withColumn("share", round(col("n") / col("__tot").cast("double"), 6))
      .select("step1", "step2", "step3", "n", "share")
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  /** Top-1 accuracy of the Markov next-event predictor: the
    * [[transitionMatrix]] chain's modal next state per from-state
    * (ties to the lexicographically smallest — deterministic), scored
    * against every observed transition. The in-sample "is the chain
    * worth serving" readout: a from-state whose accuracy ≈ its modal
    * share means the chain adds nothing over the marginal; structure
    * shows up as accuracy ABOVE the global modal share.
    *
    * Plan: one per-key window for transitions (the corpus-sized stage),
    * one keyed (from, next) count, the modal pick as a row_number over
    * the |states|²-bounded count table, and one broadcast join back —
    * no driver collect, no global sort.
    */
  def nextEventAccuracy(events: DataFrame, key: String, ts: String,
                        id: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val pairs = events
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col(stateCol).as("from_state"), col("__next").as("actual"))
    val counts = pairs
      .groupBy(col("from_state"), col("actual").as("cand"))
      .agg(count(lit(1)).as("__n"))
    val pick = Window.partitionBy(col("from_state"))
      .orderBy(col("__n").desc, col("cand").asc)
    val predicted = counts
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col("from_state"), col("cand").as("predicted_next"))
    pairs.join(broadcast(predicted), Seq("from_state"))
      .groupBy(col("from_state"))
      .agg(count(lit(1)).as("n_transitions"),
        min(col("predicted_next")).as("predicted_next"),
        sum(when(col("actual") === col("predicted_next"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct") / col("n_transitions").cast("double"), 6))
      .orderBy("from_state")
  }

  /** Nearest-event temporal join — for each probe row, the same key's
    * closest reference row in EITHER time direction (the bidirectional
    * generalization of as-of, which only looks backward): "the view
    * nearest to this purchase", "the sensor reading nearest to this
    * fault". Ties (equal gap before and after) resolve to the EARLIER
    * reference — deterministic, and consistent with as-of's
    * newest-at-or-before convention.
    *
    * No self-join: probes and references are tagged and merged into ONE
    * per-key stream (union is shuffle-free), then a single per-key
    * (ts, refs-first, id) window reads the latest reference at-or-before
    * (`max(ref_ts)` over the preceding frame — the frame is
    * time-ordered, so max IS the most recent) and the earliest
    * strictly-after (`min(ref_ts)` over the following frame).
    * Sorting refs before probes at equal timestamps makes a simultaneous
    * reference count as gap 0 via the backward arm. One shuffle on the
    * key, per-key-bounded sort — the [[futureLabels]] posture, robust at
    * any corpus size because no frame ever spans keys.
    *
    * Reference: ML-Feature-Store-Enterprise-Grade
    * `feature_repo/features/streaming_features.py` pairs each event with
    * its nearest context row driver-side; here it is one declarative
    * window pass.
    */
  def nearestJoin(events: DataFrame, key: String, ts: String, id: String,
                  isProbe: Column, isRef: Column): DataFrame = {
    val reserved = Seq("__is_probe", "__ref_ts", "prev_ref_ts", "next_ref_ts",
      "nearest_ref_ts", "gap_secs")
    require(!reserved.exists(events.columns.contains),
      s"nearestJoin: input already has one of ${reserved.mkString(", ")}")
    val tagged = events
      .withColumn("__is_probe", isProbe)
      .withColumn("__ref_ts", when(isRef, col(ts)))
    // refs-first at equal ts: a simultaneous ref lands in the preceding
    // frame of its probe, scoring gap 0 through the backward arm
    val order = Seq(col(ts), col("__is_probe").cast("int"), col(id))
    val before = Window.partitionBy(col(key)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val after = Window.partitionBy(col(key)).orderBy(order: _*)
      .rowsBetween(1, Window.unboundedFollowing)
    def secs(a: Column, b: Column) =
      (unix_micros(a.cast("timestamp")) - unix_micros(b.cast("timestamp"))) / 1e6
    tagged
      .withColumn("prev_ref_ts", max(col("__ref_ts")).over(before))
      .withColumn("next_ref_ts", min(col("__ref_ts")).over(after))
      .filter(col("__is_probe"))
      .withColumn("nearest_ref_ts",
        when(col("prev_ref_ts").isNull, col("next_ref_ts"))
          .when(col("next_ref_ts").isNull, col("prev_ref_ts"))
          // tie → earlier (the backward arm), matching as-of's convention
          .when(secs(col(ts), col("prev_ref_ts")) <=
                secs(col("next_ref_ts"), col(ts)), col("prev_ref_ts"))
          .otherwise(col("next_ref_ts")))
      .withColumn("gap_secs",
        round(abs(secs(col(ts), col("nearest_ref_ts"))), 6))
      .drop("__is_probe", "__ref_ts")
  }

  /** Many-to-many interval join — attach every interval (campaign,
    * promotion, validity window) whose `[start, end)` contains the point's
    * timestamp, matching on `keys` first. The one temporal join the as-of
    * family CANNOT express: as-of picks exactly one (newest) match, so
    * overlapping windows — concurrent campaigns, A/B test exposures,
    * nested maintenance windows — need a true interval semi-product.
    *
    * Spark plans the naive `pt >= start && pt < end` predicate as
    * BroadcastNestedLoopJoin (or a cartesian when neither side fits in
    * memory) — O(|points|·|intervals|) at 100 TB. This operator makes it
    * an EQUI join: time is quantized into `binMicros`-wide bins, each
    * interval is replicated to the bins it overlaps
    * (`explode(sequence(...))`, bounded by `maxBinsPerInterval` with an
    * in-plan raise — the `sweepExact` fail-loud posture), points carry
    * their single bin, and the join runs on `keys :+ bin` through the
    * ordinary hash-shuffle machinery (AQE, skew split, broadcast if small
    * — all free). The exact containment predicate is a narrow post-filter.
    * Replication factor = interval span / binWidth, so pick binMicros near
    * the MEDIAN interval span: cost is O(|points| + |intervals|·spanBins)
    * — never a product.
    *
    * Malformed intervals (end <= start) raise in-plan rather than silently
    * matching nothing. `end` is exclusive; the last replicated bin is the
    * one containing `end − 1 µs`.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   keys: Seq[String], ptCol: String,
                   startCol: String, endCol: String,
                   binMicros: Long = 86400000000L,
                   maxBinsPerInterval: Int = 4096): DataFrame = {
    require(binMicros > 0, s"intervalJoin: binMicros > 0 (got $binMicros)")
    require(keys.forall(points.columns.contains) &&
      keys.forall(intervals.columns.contains),
      s"intervalJoin: every key in $keys must exist on both sides")
    require(!points.columns.contains("__bin") &&
      !intervals.columns.contains("__bin"),
      "intervalJoin: __bin column name is reserved")
    def binOf(c: Column) = floor(unix_micros(c.cast("timestamp")) / binMicros)
    val sBin = binOf(col(startCol))
    val eBin = binOf(col(endCol).cast("timestamp") - expr("INTERVAL 1 MICROSECOND"))
    val nBins = eBin - sBin + lit(1L)
    val checked = when(col(endCol) <= col(startCol),
        raise_error(concat(lit("intervalJoin: empty interval (end <= start) at "),
          col(startCol).cast("string"))))
      .when(nBins > maxBinsPerInterval,
        raise_error(concat(lit("intervalJoin: interval spans "),
          nBins.cast("string"),
          lit(s" bins (> maxBinsPerInterval=$maxBinsPerInterval); raise " +
            "binMicros toward the median interval span"))))
      .otherwise(eBin)
    val replicated = intervals
      .withColumn("__bin", explode(sequence(sBin, checked)))
    points
      .withColumn("__bin", binOf(col(ptCol)))
      .join(replicated, keys :+ "__bin")
      .filter(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("__bin")
  }
}
