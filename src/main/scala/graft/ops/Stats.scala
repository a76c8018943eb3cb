package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorts / limits / top-k / order statistics / distribution reports
  * (SURVEY.md §2.5 T1–T4 and §2.3 A10–A11).
  *
  * Scale posture: top-k is `TakeOrderedAndProject` (per-partition heaps, no
  * global sort); percentiles ship both the exact form (oracle-checked) and
  * `percentile_approx` (mergeable t-digest-style sketch — the 100 TB path);
  * distribution shares reuse one aggregate with a broadcast total.
  */
object Stats {

  /** Roster drift check with a BOUNDED driver footprint: the observed
    * group set must equal the declared one, but on adversarial data
    * (millions of distinct group values) a plain
    * `distinct().collect()` would materialize all of them driver-side
    * BEFORE the require fails. `distinct().limit(33).collect()` is a
    * fully distributed distinct with ≤33 rows ever reaching the
    * driver: since every declared roster is ≤32, a 33rd distinct value
    * is already proof of drift, and ≤32 observed means the limit never
    * truncated, so the equality check is exact.
    */
  private[ops] def checkRoster(base: DataFrame, op: String,
                               declared: Seq[String]): Unit = {
    val observed = base.select("__g").distinct().limit(33).collect()
      .map(_.getString(0)).sorted.toSeq
    require(observed.size <= 32,
      s"$op: observed >32 distinct groups (sample: " +
        observed.take(8).mkString("[", ", ", ", ...]") +
        s") — declared roster is ${declared.sorted}; fail loud, " +
        "don't hash-flake")
    require(observed == declared.sorted,
      s"$op: observed groups ${observed.mkString("[", ", ", "]")}" +
        s" differ from the declared roster — fail loud, don't hash-flake")
  }

  /** T1: top-k groups by count desc (`batch_generator.py:165-167`), with a
    * deterministic name tiebreak.
    */
  def topKByCount(df: DataFrame, key: String, k: Int): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(key).asc)
      .limit(k)

  /** T2: deterministic probe sample — the reference samples random keys for
    * validation (`validate_online_store.py:59-62`); we key off a modulus so
    * the oracle can reproduce it (SURVEY.md §5.3 seeding rule).
    */
  def probeSample(df: DataFrame, key: String, modulus: Int): DataFrame =
    df.filter(col(key) % modulus === 0)

  /** T3: order statistics — exact percentiles (`inference_service.py:190-199`
    * computes p95 by sorted index; SQL `percentile` interpolates the same
    * way as DuckDB `quantile_cont`).
    */
  def percentiles(df: DataFrame, valueCol: String): DataFrame =
    // round 13: the exact anchors come from [[exactQuantiles]] — the
    // count-grain distributed form StatsSpec pins RAW-BIT equal to the
    // builtin `percentile(col, array(...))` — instead of the builtin's
    // full value buffer (every value shuffled into ONE final merge; the
    // r12 array form had already cut 4 buffers to 1, this removes the
    // one-task buffer itself). min/max/avg ride a separate narrow fold;
    // both are 1-row frames, joined by a broadcast cross join.
    exactQuantiles(df, valueCol, Seq(0.5, 0.9, 0.95, 0.99), "__p")
      .crossJoin(broadcast(df.agg(
        round(min(col(valueCol)), 6).as("min_v"),
        round(max(col(valueCol)), 6).as("max_v"),
        round(avg(col(valueCol)), 6).as("avg_v"))))
      .select(
        round(element_at(col("__p"), 1), 6).as("p50"),
        round(element_at(col("__p"), 2), 6).as("p90"),
        round(element_at(col("__p"), 3), 6).as("p95"),
        round(element_at(col("__p"), 4), 6).as("p99"),
        col("min_v"), col("max_v"), col("avg_v"))

  /** T3 at 100 TB: the sketch-based variant (single-pass, mergeable,
    * bounded memory). Not oracle-checked — benchmarked.
    */
  def percentilesApprox(df: DataFrame, valueCol: String): DataFrame =
    df.agg(
      percentile_approx(col(valueCol), lit(0.95), lit(10000)).as("p95_approx"),
      percentile_approx(col(valueCol), lit(0.5), lit(10000)).as("p50_approx"))

  /** [[percentilesApprox]] with an in-plan tolerance oracle: emits the
    * EXACT percentiles (DuckDB-replayable) plus booleans asserting the
    * sketch landed inside a ±1% exact-rank bracket around each target.
    * The GK sketch guarantees rank error ≤ 1/accuracy (1e-4 at the
    * default) regardless of merge order, so the booleans are
    * deterministically true with a 100× margin — which makes the whole
    * row hashable: if a Spark upgrade ever broke the sketch, the flipped
    * boolean fails the hash compare loudly.
    */
  def percentilesApproxChecked(df: DataFrame, valueCol: String,
                               accuracy: Int = 10000): DataFrame = {
    // round 13: the six exact anchors come from [[exactQuantiles]]
    // (raw-bit equal to the builtin array-percentile, distributed at the
    // count grain) instead of the builtin's one-task value buffer; the
    // GK sketch stays its own narrow fold. (History: the r11 scalar form
    // kept SIX full value buffers plus two sketches, 10.5 s; the r12
    // array form one buffer, ~4 s; this removes the buffer.)
    def e(i: Int) = element_at(col("__e"), i)
    def a(i: Int) = element_at(col("__a"), i).cast("double")
    exactQuantiles(df, valueCol,
        Seq(0.49, 0.5, 0.51, 0.94, 0.95, 0.96), "__e")
      .crossJoin(broadcast(df.agg(
        percentile_approx(col(valueCol), array(lit(0.5), lit(0.95)),
          lit(accuracy)).as("__a"))))
      .select(
        round(e(2), 6).as("p50"),
        round(e(5), 6).as("p95"),
        (a(1) >= e(1) && a(1) <= e(3)).as("p50_ok"),
        (a(2) >= e(4) && a(2) <= e(6)).as("p95_ok"))
  }

  /** A10: group distribution — count per key + share of total
    * (`batch_generator.py:160-177`). The grand total is computed once and
    * broadcast back (scalar cross join), not recomputed per group.
    */
  def groupDistribution(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val total = df.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col(key), col("cnt"),
        round(col("cnt").cast("double") / col("total"), 6).as("share"))
      .orderBy(col(key))
  }

  /** A11: numeric summary — mean/min/max + threshold count
    * (`batch_generator.py:179-193`).
    */
  def numericSummary(df: DataFrame, valueCol: String,
                     threshold: Double): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      round(avg(col(valueCol)), 6).as("mean"),
      round(min(col(valueCol)), 6).as("min_v"),
      round(max(col(valueCol)), 6).as("max_v"),
      sum(when(col(valueCol) > threshold, 1L).otherwise(0L)).as("above_threshold"))

  /** A8 (deterministic mode): the reference approximates "primary referrer"
    * with `first()` (`clickstream_aggregation.py:170`); the robust form is
    * the true per-key mode with a total tiebreak (count desc, then value
    * asc) — reproducible under any partitioning, expressible identically
    * in the oracle (SURVEY.md §5.3/§7.2). One keyed count + one windowed
    * pick; both shuffles are on the (key) / (key, value) axes.
    */
  def deterministicMode(df: DataFrame, key: String, valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(key), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("cnt").desc, col(valueCol).asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(key), col(valueCol).as("mode_value"), col("cnt"))
      .orderBy(col(key))
  }

  /** T4: most-recent-partitions tail (`feature_store_materialization.py:153`):
    * newest N distinct dates.
    */
  /** Rolling time-series features per key: previous value, N-row rolling
    * mean, and running event index — the lag/rolling feature-engineering
    * staple. One shuffle on the key; the frame is partition-local after
    * that (bounded ROWS frame, not an unbounded range, so window state is
    * O(frame) at any scale).
    */
  def rollingFeatures(df: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, valCol: String,
                      frameRows: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val frame = order.rowsBetween(-(frameRows - 1), Window.currentRow)
    df.select(col(idCol), col(keyCol), col(tsCol), col(valCol),
      lag(col(valCol), 1).over(order).as("prev_value"),
      round(avg(col(valCol)).over(frame), 6).as("rolling_avg"),
      row_number().over(order).as("event_idx"))
  }

  /** Trailing TIME-RANGE window features — "everything in the last hour"
    * regardless of event count, the frame family [[rollingFeatures]]'
    * ROWS frames can't express (k rows ≠ k seconds under bursty
    * traffic; rate limits, velocity checks, and freshness features are
    * all time-denominated). Implemented as a `rangeBetween` window over
    * epoch micros — Spark evaluates it with a sliding frame pointer per
    * key, same one-shuffle cost as a ROWS frame. Equal-timestamp peers
    * all see the same frame (RANGE semantics), so no id tiebreak is
    * needed for determinism; value sums ride the centi lattice.
    */
  def rollingTimeWindow(df: DataFrame, keyCol: String, tsCol: String,
                        idCol: String, valCol: String,
                        windowSeconds: Long): DataFrame = {
    require(windowSeconds >= 1,
      s"rollingTimeWindow: windowSeconds >= 1 (got $windowSeconds)")
    val micros = windowSeconds * 1000000L
    val frame = Window.partitionBy(col(keyCol))
      .orderBy(col("__es")).rangeBetween(-(micros - 1), 0)
    df.withColumn("__es", unix_micros(col(tsCol).cast("timestamp")))
      .select(col(idCol), col(keyCol), col(tsCol),
        round(col(valCol), 6).as(valCol),
        count(lit(1)).over(frame).as("n_window"),
        round(sum(round(col(valCol) * 100, 0).cast("long")).over(frame)
          / lit(100.0), 2).as("sum_window"))
      .orderBy(idCol)
  }

  /** Feature scaling transforms — the standardize / min-max normalize
    * step of a feature pipeline, as ONE stats aggregate + a broadcast
    * 1-row join (never a per-row subquery): `z_col` = (x−μ)/σ (NULL when
    * the column has no spread), `mm_col` = (x−min)/(max−min) (NULL when
    * constant). Train-time stats can be reused at serving by passing the
    * same literal frame; here stats come from `df` itself.
    */
  def scaleFeatures(df: DataFrame, keyCol: String,
                    cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(avg(col(c)).as(s"__mu_$c"),
        stddev_samp(col(c)).as(s"__sd_$c"),
        min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    df.crossJoin(broadcast(stats))
      .select(col(keyCol) +: cols.flatMap { c =>
        Seq(
          round(when(col(s"__sd_$c") > 0,
            (col(c) - col(s"__mu_$c")) / col(s"__sd_$c")), 6).as(s"z_$c"),
          round(when(col(s"__mx_$c") > col(s"__mn_$c"),
            (col(c) - col(s"__mn_$c")) /
              (col(s"__mx_$c") - col(s"__mn_$c"))), 6).as(s"mm_$c"))
      }: _*)
      .orderBy(keyCol)
  }

  /** Rolling z-score anomaly signal per key: each value scored against
    * the mean/stddev of its own trailing `frameRows`-row window (ordered
    * by time with an id tiebreak). `z` is NULL when the trailing window
    * has no spread (stddev 0 or a single row) — a flat history cannot
    * anomaly-score, and the guard keeps ANSI mode from a ÷0. Window is
    * partitioned BY KEY, so the sort is bounded by one entity's history
    * (same posture as [[rollingFeatures]]; salt the key if one entity
    * dominates).
    */
  def rollingZScore(df: DataFrame, keyCol: String, tsCol: String,
                    idCol: String, valCol: String,
                    frameRows: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val frame = order.rowsBetween(-(frameRows - 1), Window.currentRow)
    val mu = avg(col(valCol)).over(frame)
    val sd = stddev_samp(col(valCol)).over(frame)
    df.select(col(idCol), col(keyCol), col(tsCol), col(valCol),
      round(mu, 6).as("roll_avg"),
      round(sd, 6).as("roll_std"),
      round(when(sd > 0, (col(valCol) - mu) / sd), 6).as("z"))
  }

  /** Winsorization — clip a numeric column to its [lo, hi] quantile
    * bounds: the standard heavy-tail taming step before scaling/training
    * (clipping, unlike dropping, keeps the row and its other features).
    * ONE array-percentile aggregate fits both bounds (single buffer, same
    * shape as [[quantileBin]]), broadcast as a 1-row frame; the clip
    * itself is a narrow codegen'd `least/greatest` projection. At true
    * 100 TB swap the fit to `percentile_approx` — same call shape.
    * Output column is `<col>_w`; NULLs pass through unclipped.
    */
  def winsorize(df: DataFrame, valCol: String, lo: Double,
                hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi,
      s"winsorize: need 0 <= lo < hi <= 1, got [$lo, $hi]")
    val bounds = df.agg(
      expr(s"percentile(CAST(`$valCol` AS DOUBLE), array(${lo}D, ${hi}D))")
        .as("__wb"))
    df.crossJoin(broadcast(bounds))
      // greatest/least IGNORE nulls (they'd clip a NULL to the lower
      // bound) — gate explicitly so NULLs pass through as NULL
      .withColumn(s"${valCol}_w",
        when(col(valCol).isNotNull,
          least(greatest(col(valCol).cast("double"),
            element_at(col("__wb"), 1)), element_at(col("__wb"), 2))))
      .drop("__wb")
  }

  /** Bounded-lag EWMA per key — the exponentially-weighted trailing mean
    * a monitoring/feature pipeline keeps per entity, truncated to the
    * last `frameRows` events so the state and the arithmetic are bounded
    * (the untruncated recursion needs either per-row sequential state or
    * numerically explosive (1−α)^−n rescaling; weights beyond ~15 lags
    * are < 1e-3 of the total at α ≥ 0.3, so the truncation is the honest
    * 100 TB form). Weighted mean over the frame with weights
    * (1−α)^lag, normalized by the actual in-frame weight sum (pandas
    * `ewm(adjust=True)` convention), so early rows with short histories
    * are means of what exists rather than biased toward zero.
    *
    * Window is partitioned by key and ordered by (ts, id) — the sort is
    * bounded by one entity's history, same posture as [[rollingFeatures]].
    */
  def ewmaFeatures(df: DataFrame, keyCol: String, tsCol: String,
                   idCol: String, valCol: String, alpha: Double,
                   frameRows: Int = 8): DataFrame = {
    require(alpha > 0 && alpha < 1, s"ewma: need 0 < alpha < 1, got $alpha")
    require(frameRows >= 1, s"ewma: need frameRows >= 1, got $frameRows")
    val order = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val frame = order.rowsBetween(-(frameRows - 1), Window.currentRow)
    val decay = lit(1.0 - alpha)
    val withVals = df.select(col(idCol), col(keyCol), col(tsCol), col(valCol),
      collect_list(col(valCol).cast("double")).over(frame).as("__fv"))
    val n = size(col("__fv"))
    // position i in 1..n (oldest first) carries weight (1−α)^(n−i)
    val idx = sequence(lit(1), n)
    val num = aggregate(
      zip_with(col("__fv"), idx,
        (x, i) => x * pow(decay, n.cast("double") - i.cast("double"))),
      lit(0.0), _ + _)
    val den = aggregate(idx, lit(0.0),
      (acc, i) => acc + pow(decay, n.cast("double") - i.cast("double")))
    withVals
      .withColumn("ewma", round(num / den, 6))
      .drop("__fv")
  }

  /** Half-life time-decayed sum per key at a DECLARED as-of date — the
    * classic feature-store recency feature ("revenue, halved every H
    * days of age") next to [[ewmaFeatures]]'s per-event trailing form.
    * Age buckets are floor(Δdays / H), so the weight is exactly 2^−k —
    * and the decay is PURE INTEGER arithmetic: each centi value is
    * half-up shifted ((v + 2^(k−1)) div 2^k), committed to the lattice
    * BEFORE the per-key sum, making the fold order-free and exact (no
    * pow(), whose cross-engine rounding is not guaranteed). Buckets
    * past 48 half-lives round to 0 by construction (2⁻⁴⁸ of a centi
    * value is < 10⁻⁸ dollars).
    *
    * Requires non-negative values (the half-up shift and an engine's
    * floor-vs-truncate integer division only agree on positives) —
    * fail-loud guarded in the plan. Events after the as-of date are
    * excluded (a feature must not see the future — the
    * [[Sampling]]-family leakage rule).
    *
    * Plan: one filtered scan, one per-key aggregation. No window, no
    * sort.
    */
  def decayedSum(df: DataFrame, keyCol: String, dateCol: Column,
                 valueCol: String, asOf: String,
                 halfLifeDays: Int): DataFrame = {
    require(halfLifeDays >= 1,
      s"decayedSum: halfLifeDays >= 1 (got $halfLifeDays)")
    val vc = round(col(valueCol) * 100, 0).cast("long")
    val base = df
      .filter(dateCol <= lit(asOf).cast("date") && col(valueCol).isNotNull)
      .select(col(keyCol),
        // ANSI fail-loud: a negative value makes the shift semantics
        // engine-dependent — raise instead of silently diverging
        when(vc >= 0L, vc)
          .otherwise(raise_error(lit(
            "decayedSum: negative value — decay requires v >= 0")))
          .as("__vc"),
        floor(datediff(lit(asOf).cast("date"), dateCol).cast("double") /
          lit(halfLifeDays.toDouble)).cast("int").as("__k"))
      .withColumn("__t",
        when(col("__k") >= 48, lit(0L))
          .when(col("__k") === 0, col("__vc"))
          .otherwise(expr("(__vc + shiftleft(CAST(1 AS BIGINT), " +
            "__k - 1)) DIV shiftleft(CAST(1 AS BIGINT), __k)")))
    base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__vc")).as("__raw"),
        sum(col("__t")).as("__dec"))
      .select(col(keyCol), col("n_events"),
        round(col("__raw") / lit(100.0), 2).as("raw_sum"),
        round(col("__dec") / lit(100.0), 2).as("decayed_sum"),
        round(when(col("__raw") > 0,
          col("__dec").cast("double") / col("__raw").cast("double")), 6)
          .as("decay_ratio"))
      .orderBy(keyCol)
  }

  /** IQR outlier report per group: exact quartiles, Tukey fences at
    * 1.5·IQR, and the count outside them. Two passes — a per-group
    * quantile aggregate, then a broadcast join back to count offenders —
    * the standard shape when the fence depends on the whole group.
    * EXACT `percentile` buffers every group value in the aggregation
    * buffer; at 100 TB use [[iqrOutliersApprox]].
    */
  def iqrOutliers(df: DataFrame, groupCol: String, valCol: String): DataFrame =
    iqrReport(df,
      df.groupBy(col(groupCol)).agg(
        expr(s"percentile($valCol, 0.25D)").as("q1"),
        expr(s"percentile($valCol, 0.75D)").as("q3")),
      groupCol, valCol)

  /** The 100 TB IQR variant: sketch quartiles (`percentile_approx` —
    * single-pass, mergeable, bounded memory per group) feeding the same
    * Tukey-fence offender count. Not oracle-checked (sketch output);
    * StatsSpec bounds the sketch error against the exact form.
    */
  def iqrOutliersApprox(df: DataFrame, groupCol: String, valCol: String,
                        accuracy: Int = 10000): DataFrame =
    iqrReport(df,
      df.groupBy(col(groupCol)).agg(
        percentile_approx(col(valCol), lit(0.25), lit(accuracy))
          .cast("double").as("q1"),
        percentile_approx(col(valCol), lit(0.75), lit(accuracy))
          .cast("double").as("q3")),
      groupCol, valCol)

  /** [[iqrOutliersApprox]] with an in-plan tolerance oracle: the output
    * carries the EXACT quartiles/fence counts (DuckDB-replayable) plus two
    * booleans — sketch quartiles inside a ±5% exact-rank bracket, and the
    * sketch-fence offender count within max(2, n/20) of the exact one
    * (fence error amplifies quartile rank error ~2.5×, still ~n/4000
    * boundary rows at the default accuracy — 200× inside the bound). One
    * extra conditional sum in the same broadcast-join pass; no new
    * shuffle.
    */
  def iqrOutliersApproxChecked(df: DataFrame, groupCol: String,
                               valCol: String,
                               accuracy: Int = 10000): DataFrame = {
    val v = col(valCol)
    def ex(p: Double) = expr(s"percentile($valCol, ${p}D)")
    def pa(p: Double) =
      percentile_approx(v, lit(p), lit(accuracy)).cast("double")
    val quart = df.groupBy(col(groupCol)).agg(
      ex(0.25).as("q1"), ex(0.75).as("q3"),
      ex(0.20).as("q1_lo"), ex(0.30).as("q1_hi"),
      ex(0.70).as("q3_lo"), ex(0.80).as("q3_hi"),
      pa(0.25).as("q1_a"), pa(0.75).as("q3_a"))
    val exLo = col("q1") - (col("q3") - col("q1")) * 1.5
    val exHi = col("q3") + (col("q3") - col("q1")) * 1.5
    val aLo = col("q1_a") - (col("q3_a") - col("q1_a")) * 1.5
    val aHi = col("q3_a") + (col("q3_a") - col("q1_a")) * 1.5
    df.join(broadcast(quart), groupCol)
      .groupBy(col(groupCol))
      .agg(
        round(min(col("q1")), 6).as("q1"),
        round(min(col("q3")), 6).as("q3"),
        round(min(col("q3") - col("q1")), 6).as("iqr"),
        sum(when(v < exLo || v > exHi, 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"),
        sum(when(v < aLo || v > aHi, 1L).otherwise(0L)).as("__n_out_a"),
        min(col("q1_a")).as("__q1_a"), min(col("q3_a")).as("__q3_a"),
        min(col("q1_lo")).as("__q1_lo"), min(col("q1_hi")).as("__q1_hi"),
        min(col("q3_lo")).as("__q3_lo"), min(col("q3_hi")).as("__q3_hi"))
      .select(col(groupCol), col("q1"), col("q3"), col("iqr"),
        col("n_outliers"), col("n_rows"),
        (col("__q1_a") >= col("__q1_lo") && col("__q1_a") <= col("__q1_hi") &&
         col("__q3_a") >= col("__q3_lo") && col("__q3_a") <= col("__q3_hi"))
          .as("quartiles_ok"),
        (abs(col("__n_out_a") - col("n_outliers")) <=
          greatest(lit(2L), col("n_rows") / 20)).as("outliers_ok"))
      .orderBy(col(groupCol))
  }

  private def iqrReport(df: DataFrame, quartiles: DataFrame,
                        groupCol: String, valCol: String): DataFrame =
    df.join(broadcast(quartiles), groupCol)
      .groupBy(col(groupCol))
      .agg(
        round(min(col("q1")), 6).as("q1"),
        round(min(col("q3")), 6).as("q3"),
        round(min(col("q3") - col("q1")), 6).as("iqr"),
        sum(when(col(valCol) < col("q1") - (col("q3") - col("q1")) * 1.5 ||
                 col(valCol) > col("q3") + (col("q3") - col("q1")) * 1.5, 1L)
          .otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .orderBy(col(groupCol))

  /** Grouped sketch percentiles — the bounded-memory counterpart of the
    * exact grouped `percentile` (q_group_percentiles): one mergeable
    * KLL-style sketch per (group, column), error ≤ 1/accuracy in rank.
    */
  def groupPercentilesApprox(df: DataFrame, groupCol: String,
                             valCol: String,
                             accuracy: Int = 10000): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col(valCol), lit(0.5), lit(accuracy))
          .as("p50_approx"),
        percentile_approx(col(valCol), lit(0.9), lit(accuracy))
          .as("p90_approx"),
        percentile_approx(col(valCol), lit(0.99), lit(accuracy))
          .as("p99_approx"))
      .orderBy(groupCol)

  /** [[groupPercentilesApprox]] with an in-plan tolerance oracle: exact
    * per-group percentiles (DuckDB-replayable) plus booleans asserting
    * each sketch value sits inside a ±5% exact-rank bracket (the
    * StatsSpec bound, lifted into the query). All brackets, sketches and
    * exacts compute in ONE grouped aggregation pass. All-NULL groups
    * yield NULL exacts AND NULL sketches — the booleans coalesce to true
    * there, matching the oracle's literal TRUE.
    */
  def groupPercentilesApproxChecked(df: DataFrame, groupCol: String,
                                    valCol: String,
                                    accuracy: Int = 10000): DataFrame = {
    def ex(p: Double) = expr(s"percentile($valCol, ${p}D)")
    def pa(p: Double) =
      percentile_approx(col(valCol), lit(p), lit(accuracy)).cast("double")
    def ok(p: Double, lo: Double, hi: Double) =
      coalesce(pa(p) >= ex(lo) && pa(p) <= ex(hi), lit(true))
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        round(ex(0.5), 6).as("p50"),
        round(ex(0.9), 6).as("p90"),
        round(ex(0.99), 6).as("p99"),
        ok(0.5, 0.45, 0.55).as("p50_ok"),
        ok(0.9, 0.85, 0.95).as("p90_ok"),
        ok(0.99, 0.98, 1.0).as("p99_ok"))
      .orderBy(groupCol)
  }

  def recentPartitions(df: DataFrame, dateCol: String, n: Int): DataFrame =
    df.select(col(dateCol)).distinct()
      .orderBy(col(dateCol).desc).limit(n)

  /** Partition-continuity audit (the backfill planner's input): ONE row —
    * the [min, max] day span, how many days actually hold data, how many
    * calendar days are missing inside the span, and the largest
    * consecutive gap. The whole computation runs over the distinct-day
    * table (bounded by the calendar, never by data volume); the lag
    * window spans that same tiny frame.
    */
  def partitionGaps(df: DataFrame, dateCol: String): DataFrame = {
    val days = df.select(to_date(col(dateCol)).as("day")).distinct()
    val w = Window.partitionBy().orderBy(col("day"))
    days
      .withColumn("gap", datediff(col("day"), lag(col("day"), 1).over(w)))
      .agg(
        min(col("day")).as("first_day"),
        max(col("day")).as("last_day"),
        count(lit(1)).as("days_present"),
        (datediff(max(col("day")), min(col("day"))) + 1 - count(lit(1)))
          .cast("long").as("days_missing"),
        coalesce(max(col("gap")) - 1, lit(0)).cast("long")
          .as("largest_gap_days"))
  }

  /** The backfill WORK-LIST companion of [[partitionGaps]]: the actual
    * missing calendar days inside the data's span, one row each — what a
    * backfill orchestrator iterates. Calendar-bounded: the generated
    * spine and the anti-join both live on the distinct-day table.
    */
  def missingDays(df: DataFrame, dateCol: String): DataFrame = {
    val days = df.select(to_date(col(dateCol)).as("day")).distinct()
    val spine = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    spine.join(days, Seq("day"), "left_anti").orderBy("day")
  }

  /** Robust outlier report: per group, the median, the median absolute
    * deviation (MAD), and the count of rows beyond `k`·MAD — the
    * heavy-tail-safe sibling of the Tukey IQR fences (a single wild value
    * cannot move median/MAD the way it moves mean/stddev). Three bounded
    * passes: per-group median, per-group MAD of deviations (both exact
    * `percentile` aggregates), broadcast join back for the offender count.
    * At 100 TB swap the exact percentiles for `percentile_approx` exactly
    * as [[iqrOutliersApprox]] does.
    */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String,
                  k: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valCol, 0.5D)").as("med"))
    val mad = df.join(broadcast(med), groupCol)
      .groupBy(col(groupCol))
      .agg(expr(s"percentile(abs($valCol - med), 0.5D)").as("mad"))
    df.join(broadcast(med), groupCol).join(broadcast(mad), groupCol)
      .groupBy(col(groupCol))
      .agg(
        round(min(col("med")), 6).as("median"),
        round(min(col("mad")), 6).as("mad"),
        sum(when(abs(col(valCol) - col("med")) > col("mad") * k, 1L)
          .otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .orderBy(col(groupCol))
  }

  /** Equal-frequency (quantile) discretization: append `<col>_bin` holding
    * which of `bins` quantile buckets each row's value falls in —
    * `bin = Σ_i [v > c_i]` over the exact `i/bins` percentile cutpoints,
    * the same cutpoint construction [[graft.ops.Drift.psi]] uses. The fit
    * is one exact-percentile aggregate broadcast as a 1-row frame; the
    * transform is a narrow codegen'd projection — no sort, no `ntile`
    * (whose single global window would serialize the corpus through one
    * task). NULL values land in bin 0 (callers filter or impute first).
    * Repeated values spanning a cutpoint land in the lower bucket, so
    * heavy ties make buckets unequal — that is quantile binning's
    * documented behavior, not a defect.
    */
  def quantileBin(df: DataFrame, valCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"quantileBin: need >= 2 bins, got $bins")
    // cutpoints via the count-grain [[exactQuantiles]] (value-identical
    // to the array-percentile fold it replaces, without the builtin's
    // full-column value buffer; history: a per-cutpoint percentile(...)
    // was 15.7 s vs 0.9 s for the array form on 600 K rows, and the
    // count-grain fold halves the array form again on mostly-distinct
    // doubles). At true 100 TB swap in percentile_approx — same call
    // shape, sketch-bounded memory (the documented exact/approx pair).
    val cuts = exactQuantiles(df, valCol,
      (1 until bins).map(_.toDouble / bins), "__cuts").select("__cuts")
    df.crossJoin(broadcast(cuts))
      .withColumn(s"${valCol}_bin",
        (1 until bins).map(i =>
          when(col(valCol) > element_at(col("__cuts"), i), 1).otherwise(0))
          .reduce(_ + _))
      .drop("__cuts")
  }

  /** Pairwise Pearson correlation matrix over numeric columns, melted to
    * (col_a, col_b, corr) rows for a < b — ONE aggregation pass computes
    * every pair (corr is an aggregate function, so the whole matrix is a
    * single map-side-combined job, no per-pair scans).
    */
  /** Per-entity temporal activity profile — when does this key act?
    * Events per key folded into an hour-of-day histogram: total events,
    * distinct active hours, the Shannon entropy of the hour distribution
    * (nats — low = routine-driven bot-like key, high ≈ ln 24 = diffuse),
    * and the peak hour (smallest hour wins ties). The behavioral-rhythm
    * feature block for churn/fraud models.
    *
    * Two bounded keyed aggregations: (key, hour) counts — at most 24 rows
    * per key regardless of corpus size — then the per-key fold. No
    * windows, no day-of-week (engine calendars disagree; hours don't).
    */
  def activityProfile(df: DataFrame, keyCol: String,
                      tsCol: String): DataFrame = {
    val hourly = df
      .groupBy(col(keyCol), hour(col(tsCol)).as("hr"))
      .agg(count(lit(1)).as("c"))
    // the per-key share window runs over the ≤24-row hourly histogram
    val p = col("c") /
      sum("c").over(Window.partitionBy(col(keyCol)))
    hourly.withColumn("p", p)
      .groupBy(col(keyCol))
      .agg(
        sum("c").as("n_events"),
        count(lit(1)).as("n_active_hours"),
        round(-sum(col("p") * log(col("p"))), 6).as("hour_entropy"),
        max(struct(col("c"), (lit(23) - col("hr")).as("nh"))).as("__pk"))
      .select(col(keyCol), col("n_events"), col("n_active_hours"),
        col("hour_entropy"), (lit(23) - col("__pk.nh")).as("peak_hour"))
      .orderBy(col(keyCol))
  }

  /** Join-cardinality forecast — predict the output size AND skew of a
    * prospective equi-join WITHOUT running it: |A ⋈ B| = Σ_k a_k·b_k over
    * the two per-key count histograms, plus the hottest key's
    * contribution (the straggler-task predictor) and its share. The
    * capacity-planning sibling of [[skewReport]]: run both before
    * submitting a 100 TB join, not after it rots on one task.
    *
    * Two keyed counts (map-side combined — the histograms, not the rows,
    * shuffle) + one inner join of the histograms + a 1-row fold. Exact,
    * not an estimate: the histograms ARE the join's key distribution.
    */
  def joinCardinality(left: DataFrame, leftKey: String,
                      right: DataFrame, rightKey: String): DataFrame = {
    val lc = left.groupBy(col(leftKey).as("k")).agg(count(lit(1)).as("cl"))
    val rc = right.groupBy(col(rightKey).as("k")).agg(count(lit(1)).as("cr"))
    val sides = lc.agg(sum("cl").as("n_left"),
        count(lit(1)).as("n_left_keys"))
      .crossJoin(rc.agg(sum("cr").as("n_right"),
        count(lit(1)).as("n_right_keys")))
    val joint = lc.join(rc, "k").agg(
      coalesce(sum(col("cl") * col("cr")), lit(0L)).as("predicted_rows"),
      count(lit(1)).as("n_common_keys"),
      coalesce(max(col("cl") * col("cr")), lit(0L)).as("hottest_key_rows"))
    joint.crossJoin(broadcast(sides))
      .select(col("n_left"), col("n_right"), col("n_left_keys"),
        col("n_right_keys"), col("n_common_keys"), col("predicted_rows"),
        col("hottest_key_rows"),
        round(col("hottest_key_rows").cast("double") /
          nullif(col("predicted_rows").cast("double"), lit(0.0)), 6)
          .as("hottest_share"))
  }

  /** Key-skew diagnostics — the pre-flight check before keying a shuffle,
    * join, or window on a column at scale: per-key count distribution
    * (p50/p90/p99/max), the hottest key's share of all rows, and
    * `skew_ratio` = max/median — the number that predicts whether AQE
    * skew-split or explicit salting ([[graft.ops.Skew]]) is needed BEFORE
    * the 4-hour straggler task teaches it the hard way.
    *
    * One keyed count (map-side combined) + one aggregate over the counts
    * table. The exact percentile buffers |keys| longs — the report grain,
    * not the corpus; for billion-key columns swap `percentile` for
    * `percentile_approx` exactly as [[percentilesApprox]] documents.
    */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    counts
      .agg(
        sum("cnt").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max("cnt").as("max_key_rows"),
        expr("percentile(cnt, array(0.5D, 0.9D, 0.99D))").as("__p"))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
        round(element_at(col("__p"), 1), 6).as("p50_key_rows"),
        round(element_at(col("__p"), 2), 6).as("p90_key_rows"),
        round(element_at(col("__p"), 3), 6).as("p99_key_rows"),
        round(col("max_key_rows") / element_at(col("__p"), 1), 6)
          .as("skew_ratio"),
        round(col("max_key_rows").cast("double") / col("n_rows"), 6)
          .as("top1_share"))
  }

  /** Per-group rank analytics — rank, percent_rank, and ntile bucket of a
    * value within its group, the "where does this row stand among its
    * peers" feature family (spend percentile within segment, doc quality
    * quartile within language). One shuffle on the group key; every sort
    * is partition-local to a group, never global. The (value, id) order
    * makes ranks tie-free and reproducible under any partitioning.
    */
  def rankFeatures(df: DataFrame, groupCol: String, valCol: String,
                   idCol: String, buckets: Int = 4): DataFrame = {
    require(buckets >= 2, s"rankFeatures: buckets >= 2 (got $buckets)")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol).desc, col(idCol).asc)
    df.select(col(idCol), col(groupCol), col(valCol),
      rank().over(w).as("rnk"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      ntile(buckets).over(w).as("bucket"))
  }

  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    // positional aliases + backtick-quoted source refs: column names with
    // spaces/dots/quotes/"__" can't break the melt or collide pair labels
    def src(name: String) = col("`" + name.replace("`", "``") + "`")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      round(corr(src(cols(i)), src(cols(j))), 6).as(s"c${i}__$j")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // melt with typed Columns, not string SQL
    val melted = explode(array(pairs.map { case (i, j) =>
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        col(s"c${i}__$j").as("corr"))
    }: _*))
    wide.select(melted.as("r"))
      .select(col("r.col_a").as("col_a"), col("r.col_b").as("col_b"),
        col("r.corr").as("corr"))
      .orderBy("col_a", "col_b")
  }

  /** Mutual information between two categorical columns, in nats, with the
    * normalized form NMI = MI / min(H(x), H(y)) — the model-free feature-
    * relevance screen (does this feature carry signal about the label?)
    * and redundancy detector (two features with NMI ≈ 1 are duplicates)
    * that Pearson [[corrMatrix]] misses for non-linear / non-numeric
    * relationships.
    *
    * ONE shuffled aggregation over the (x, y) joint — map-side combined,
    * output bounded by |domain(x)|·|domain(y)|, never corpus-sized — then
    * marginals and the Σ p·ln(p/(px·py)) fold run as windows over that
    * bounded joint table. NULLs excluded (MI over observed pairs). One
    * output row; doubles rounded at 6 for cross-engine parity.
    */
  /** [[mutualInfo]] for EVERY pair of a declared column set in ONE scan:
    * each row explodes into one (col_a, col_b, x, y) record per pair
    * (bounded ×C(k,2) replication, the snapshot-series trick), then one
    * shuffled joint count covers all pairs at once and the MI/NMI folds
    * run as windows PARTITIONED BY PAIR over the bounded joint tables —
    * never a scan per pair (k columns would otherwise cost k²/2 passes
    * over a 100 TB table). The feature-redundancy screen: NMI ≈ 1 pairs
    * are duplicate features.
    */
  def mutualInfoMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      s"mutualInfoMatrix: 2..8 columns (got ${cols.size})")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val recs = df.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col(a).cast("string").as("x"), col(b).cast("string").as("y"))
      }: _*)).as("r"))
      .select(col("r.col_a").as("col_a"), col("r.col_b").as("col_b"),
        col("r.x").as("x"), col("r.y").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val joint = recs.groupBy("col_a", "col_b", "x", "y")
      .agg(count(lit(1)).cast("double").as("nxy"))
    val wp = Window.partitionBy("col_a", "col_b")
    val wx = Window.partitionBy("col_a", "col_b", "x")
    val wy = Window.partitionBy("col_a", "col_b", "y")
    val mi = sum(col("pxy") * log(col("pxy") / (col("px") * col("py"))))
    joint
      .withColumn("n", sum(col("nxy")).over(wp))
      .withColumn("px", sum(col("nxy")).over(wx) / col("n"))
      .withColumn("py", sum(col("nxy")).over(wy) / col("n"))
      .withColumn("pxy", col("nxy") / col("n"))
      .groupBy("col_a", "col_b")
      .agg(round(mi, 6).as("mi_nats"),
        round(mi / least(-sum(col("pxy") * log(col("px"))),
          -sum(col("pxy") * log(col("py")))), 6).as("nmi"))
      .orderBy("col_a", "col_b")
  }

  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val joint = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).cast("double").as("nxy"))
    val all = Window.partitionBy()
    val wx = Window.partitionBy(col("x"))
    val wy = Window.partitionBy(col("y"))
    joint
      .withColumn("n", sum(col("nxy")).over(all))
      .withColumn("px", sum(col("nxy")).over(wx) / col("n"))
      .withColumn("py", sum(col("nxy")).over(wy) / col("n"))
      .withColumn("pxy", col("nxy") / col("n"))
      .agg(
        sum(col("pxy") * log(col("pxy") / (col("px") * col("py"))))
          .as("mi"),
        (-sum(col("pxy") * log(col("px")))).as("__hx_terms"),
        (-sum(col("pxy") * log(col("py")))).as("__hy_terms"))
      .select(
        round(col("mi"), 6).as("mi_nats"),
        round(col("mi") / least(col("__hx_terms"), col("__hy_terms")), 6)
          .as("nmi"))
  }

  /** Calibration / reliability report over a [0,1] score against a binary
    * outcome — the serving-side model monitor: B equal-width score bins,
    * each with support, mean predicted confidence, observed positive rate,
    * and the |gap|; the support-weighted gap sum is the Expected
    * Calibration Error, repeated on every row (`ece`) so the one-pass
    * report carries the headline number without a second output shape.
    *
    * ONE shuffled aggregation on the bin key (≤ B groups) + a window over
    * the B-row result — bounded regardless of corpus size. Scores outside
    * [0,1] fail loud (a miscalibrated PIPELINE, not a miscalibrated model).
    */
  def calibrationBins(df: DataFrame, scoreCol: String, positive: Column,
                      bins: Int): DataFrame = {
    require(bins >= 2, s"calibrationBins: bins >= 2 (got $bins)")
    val s = col(scoreCol)
    val guarded = when(s.isNull || s < 0.0 || s > 1.0,
      raise_error(concat(lit(s"calibrationBins: $scoreCol out of [0,1]: "),
        s.cast("string")))).otherwise(s)
    val bin = least(floor(guarded * bins), lit(bins - 1L)).cast("int")
    val perBin = df
      .withColumn("bin", bin)
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        avg(col(scoreCol)).as("confidence"),
        avg(when(positive, 1.0).otherwise(0.0)).as("accuracy"))
    val all = Window.partitionBy()
    perBin
      .withColumn("gap", abs(col("accuracy") - col("confidence")))
      .withColumn("ece",
        round(sum(col("gap") * col("n")).over(all) /
          sum(col("n")).over(all), 6))
      .select(col("bin"), col("n"), round(col("confidence"), 6).as("confidence"),
        round(col("accuracy"), 6).as("accuracy"), round(col("gap"), 6).as("gap"),
        col("ece"))
      .orderBy("bin")
  }

  /** Hosmer–Lemeshow goodness-of-fit over [[calibrationBins]]' binning
    * — the TEST the reliability diagram eyeballs: per bin, observed
    * positives O against the model's OWN expected Σp (not the bin's
    * mean outcome), HL = Σ (O−E)²/(E(1−E/n)), compared to the χ²(g−2)
    * 5% critical value (g = 10 → 15.507313055865453, shared literal).
    * ECE says "how far off on average"; HL says "is the miscalibration
    * statistically real".
    *
    * Determinism: scores commit to the 1e-6 lattice so each bin's
    * expected sum is an exact integer; each bin's χ² term commits to
    * the 1e-9 lattice BEFORE the cross-bin fold (10 doubles summed in
    * engine order would flake the 6th decimal).
    *
    * Plan: one corpus aggregation to ≤bins rows, one bounded fold.
    */
  def hosmerLemeshow(df: DataFrame, scoreCol: String, positive: Column,
                     bins: Int = 10): DataFrame = {
    require(bins >= 3 && bins <= 64,
      s"hosmerLemeshow: bins in [3, 64] (got $bins)")
    val chi2crit = 15.507313055865453 // chi2(8) at 5%, for the default 10
    val s = col(scoreCol)
    val guarded = when(s.isNull || s < 0.0 || s > 1.0,
      raise_error(concat(lit(s"hosmerLemeshow: $scoreCol out of [0,1]: "),
        s.cast("string")))).otherwise(s)
    val bin = least(floor(guarded * bins), lit(bins - 1L)).cast("int")
    val perBin = df.withColumn("__b", bin)
      .withColumn("__s6", round(col(scoreCol) * 1e6, 0).cast("long"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(positive, 1L).otherwise(0L)).as("__k"),
        sum(col("__s6")).as("__e6"))
    val nD = col("__n").cast("double")
    val e = col("__e6").cast("double") / 1e6
    val den = e * (lit(1.0) - e / nD)
    val term = (col("__k").cast("double") - e) *
      (col("__k").cast("double") - e) / den
    val terms = perBin
      .withColumn("__t9", when(den > 0, round(term * 1e9, 0).cast("long")))
    val f = terms.agg(count(lit(1)).as("n_bins"),
      sum(col("__n")).as("n_rows"),
      count(col("__t9")).as("__nused"),
      coalesce(sum(col("__t9")), lit(0L)).as("__hl9"))
    val hl = col("__hl9").cast("double") / 1e9
    val ok = col("__nused") >= 3
    f.select(col("n_bins"), col("n_rows"),
      (col("__nused") - 2L).as("df"),
      round(when(ok, hl), 6).as("hl_stat"),
      // the critical literal is df = 8 (10 populated bins); with any
      // other df the flag is NULL rather than silently wrong
      when(col("__nused") === 10L, hl > lit(chi2crit))
        .as("miscalibrated"))
  }

  /** Isotonic (PAVA) calibration over [[calibrationBins]]' binning —
    * the monotone score→probability remap a serving layer applies when
    * the reliability diagram shows miscalibration ("scores near 0.8
    * convert at 0.55"): the least-squares MONOTONE fit to the per-bin
    * conversion rates, computed by the pool-adjacent-violators
    * min–max identity ŷ_t = max_{i≤t} min_{j≥t} A(i,j) where A(i,j)
    * is the pooled rate of bins i..j — no iteration, no driver loop.
    *
    * Determinism: per-bin (n, k) are exact longs; every pooled rate
    * A(i,j) is ONE double division of exact integer differences of
    * prefix sums, so both engines elect identical min/max winners;
    * output rounds at display only.
    *
    * Plan: one corpus-sized aggregation to ≤`bins` rows, then a
    * bins×bins self-join (≤64² rows — a documented BOUNDED
    * nested-loop on the bin frame, never corpus-sized), a bounded
    * window, one bounded fold.
    */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
                          positive: Column, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 64,
      s"isotonicCalibration: bins in [2, 64] (got $bins)")
    val s = col(scoreCol)
    val guarded = when(s.isNull || s < 0.0 || s > 1.0,
      raise_error(concat(
        lit(s"isotonicCalibration: $scoreCol out of [0,1]: "),
        s.cast("string")))).otherwise(s)
    val bin = least(floor(guarded * bins), lit(bins - 1L)).cast("int")
    val perBin = df.withColumn("__b", bin).groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(positive, 1L).otherwise(0L)).as("__k"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = perBin
      .withColumn("__cn", sum(col("__n")).over(wCum))
      .withColumn("__ck", sum(col("__k")).over(wCum))
    val li = pre.select(col("__b").as("__i"),
      (col("__cn") - col("__n")).as("__cni"),
      (col("__ck") - col("__k")).as("__cki"))
    val rj = pre.select(col("__b").as("__t"), col("__cn").as("__cnj"),
      col("__ck").as("__ckj"))
    val pairs = li.join(rj, col("__i") <= col("__t"))
      .withColumn("__a", (col("__ckj") - col("__cki")).cast("double") /
        (col("__cnj") - col("__cni")).cast("double"))
    val wMin = Window.partitionBy(col("__i")).orderBy(col("__t"))
      .rowsBetween(0, Window.unboundedFollowing)
    val iso = pairs.withColumn("__mv", min(col("__a")).over(wMin))
      .groupBy(col("__t")).agg(max(col("__mv")).as("__iso"))
    perBin.join(iso, col("__b") === col("__t"))
      .select(col("__b").as("bin"), col("__n").as("n"),
        col("__k").as("n_pos"),
        round(col("__k").cast("double") / col("__n").cast("double"), 6)
          .as("raw_rate"),
        round(col("__iso"), 6).as("iso_rate"))
      .orderBy("bin")
  }

  /** Murphy decomposition of the Brier score over [[calibrationBins]]'
    * binning: BRIER = RELIABILITY − RESOLUTION + UNCERTAINTY (+ the
    * within-bin residual, reported rather than hidden — the three-term
    * identity is exact only when every forecast in a bin equals the bin
    * mean). ECE says "how far off are the bins"; this says how much of
    * the score is miscalibration (reliability, fixable by remapping)
    * vs discrimination the model actually has (resolution) vs the
    * irreducible base-rate noise (uncertainty) — the triage a model
    * owner needs before deciding whether to recalibrate or retrain.
    * Also emits the Brier skill score 1 − BRIER/UNC.
    *
    * Determinism: per-row squared errors and scores commit to integer
    * lattices (1e-12 / 1e-9) before any fold; per-bin terms commit to
    * the 1e-12 lattice before the bin fold; every output is a fixed
    * double tree on exact longs. Out-of-range scores fail loud (the
    * calibrationBins guard).
    *
    * Plan: one corpus fold at row grain + one at bin grain, then
    * arithmetic over the BOUNDED bin frame. One output row.
    */
  def brierDecomposition(df: DataFrame, scoreCol: String,
                         positive: Column, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 100,
      s"brierDecomposition: bins in [2, 100] (got $bins)")
    val s = col(scoreCol)
    val guarded = when(s.isNull || s < 0.0 || s > 1.0,
      raise_error(concat(
        lit(s"brierDecomposition: $scoreCol out of [0,1]: "),
        s.cast("string")))).otherwise(s)
    val rows = df.select(guarded.as("__s"),
        when(positive, 1L).otherwise(0L).as("__o"))
      .withColumn("__bin",
        least(floor(col("__s") * bins), lit(bins - 1L)).cast("int"))
      .withColumn("__su", round(col("__s") * 1e9, 0).cast("long"))
      .withColumn("__du",
        round((col("__s") - col("__o").cast("double")) *
          (col("__s") - col("__o").cast("double")) * 1e12, 0).cast("long"))
    val perBin = rows.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__nk"), sum(col("__o")).as("__ok"),
        sum(col("__su")).as("__sk"))
    val tot = rows.agg(count(lit(1)).as("n"), sum(col("__o")).as("n_pos"),
      sum(col("__du")).as("__bsum"))
    val nD = col("n").cast("double")
    val obar = col("n_pos").cast("double") / nD
    val nkD = col("__nk").cast("double")
    val fbar = col("__sk").cast("double") / 1e9 / nkD
    val obk = col("__ok").cast("double") / nkD
    val folded = perBin.crossJoin(broadcast(tot))
      .select(
        round(nkD * (fbar - obk) * (fbar - obk) * 1e12, 0).cast("long")
          .as("__rt"),
        round(nkD * (obk - obar) * (obk - obar) * 1e12, 0).cast("long")
          .as("__st"))
      .agg(sum(col("__rt")).as("__rel"), sum(col("__st")).as("__res"))
    val brier = col("__bsum").cast("double") / 1e12 / nD
    val rel = col("__rel").cast("double") / 1e12 / nD
    val res = col("__res").cast("double") / 1e12 / nD
    val unc = obar * (lit(1.0) - obar)
    tot.crossJoin(broadcast(folded))
      .select(col("n"), col("n_pos"),
        round(brier, 6).as("brier"),
        round(rel, 6).as("reliability"),
        round(res, 6).as("resolution"),
        round(unc, 6).as("uncertainty"),
        round(brier - (rel - res + unc), 6).as("residual"),
        round(when(unc > 0, lit(1.0) - brier / unc), 6).as("brier_skill"))
  }

  /** Standardized effect sizes between two DECLARED groups: Cohen's d
    * (pooled), Hedges' g (the small-sample bias repair), and Glass's Δ
    * (control-only spread, for when the treatment changes variance),
    * with a normal-approximation 95% CI on d — the "is the difference
    * MEANINGFUL" companion to [[anovaOneWay]]'s "is it real" and
    * [[cliffsDelta]]'s ordinal cousin. Group A is the treatment,
    * B the control (Glass denominates in B's sd).
    *
    * Determinism: values commit to the 1e-6 lattice once; all
    * sufficient statistics are exact long/decimal folds; every output
    * is one fixed double tree (the lattice scale cancels in d/g/Δ and
    * is unwound by a single division in the reported means/sds). The
    * z-critical literal is injected into both engines verbatim.
    * Degenerate slices (n < 2, zero variance) surface as NULLs.
    *
    * Plan: one corpus fold to a single row, map-side combined.
    */
  def effectSizes(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB,
      s"effectSizes: groups must differ (got '$groupA' twice)")
    val zCrit = 1.959963984540054
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isin(groupA, groupB) && col("__v").isNotNull)
      .withColumn("__vu", round(col("__v") * 1e6, 0).cast("long"))
    def agg3(g: String, sfx: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$sfx"),
      sum(when(col("__g") === g, col("__vu")).otherwise(0L)).as(s"__s$sfx"),
      sum(when(col("__g") === g,
        col("__vu").cast("decimal(38,0)") * col("__vu"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as(s"__q$sfx"))
    val aggs = agg3(groupA, "a") ++ agg3(groupB, "b")
    val f = base.agg(aggs.head, aggs.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def m(s: String) = col(s"__s$s").cast("double") / nD(s)
    def ssd(s: String) = col(s"__q$s").cast("double") -
      col(s"__s$s").cast("double") * col(s"__s$s") / nD(s)
    val nT = nD("a") + nD("b")
    val sp = sqrt((ssd("a") + ssd("b")) / (nT - 2.0))
    val sb = sqrt(ssd("b") / (nD("b") - 1.0))
    val d = (m("a") - m("b")) / sp
    val ok = col("__na") >= 2 && col("__nb") >= 2 && ssd("a") + ssd("b") > 0
    val corr = lit(1.0) - lit(3.0) / (lit(4.0) * nT - 9.0)
    val se = sqrt(nT / (nD("a") * nD("b")) + d * d / (lit(2.0) * nT))
    f.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      round(m("a") / 1e6, 6).as("mean_a"),
      round(m("b") / 1e6, 6).as("mean_b"),
      round((m("a") - m("b")) / 1e6, 6).as("mean_diff"),
      round(when(ok, sp / 1e6), 6).as("sd_pooled"),
      round(when(ok, d), 6).as("cohens_d"),
      round(when(ok, d * corr), 6).as("hedges_g"),
      round(when(col("__nb") >= 2 && ssd("b") > 0,
        (m("a") - m("b")) / sb), 6).as("glass_delta"),
      round(when(ok, d - lit(zCrit) * se), 6).as("d_lo"),
      round(when(ok, d + lit(zCrit) * se), 6).as("d_hi"))
  }

  /** Welch two-sample t-test: the unequal-variance comparison of two
    * DECLARED group means with the Welch–Satterthwaite df and a
    * normal-approximation 95% CI on the raw difference — the classic
    * named test between [[effectSizes]] (which standardizes the gap)
    * and [[anovaOneWay]] (which generalizes to k groups). The CI uses
    * the z critical value, not t (no t-table in-engine) — documented,
    * and conservative only below ~30 df.
    *
    * Determinism: the [[effectSizes]] lattice fold (1e-6 integer
    * commits, exact long/decimal sums); t and df are one fixed double
    * tree each (the lattice scale cancels in t and df and is unwound
    * by one division in the reported difference and CI).
    *
    * Plan: one corpus fold to a single row, map-side combined.
    */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB,
      s"welchTTest: groups must differ (got '$groupA' twice)")
    val zCrit = 1.959963984540054
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isin(groupA, groupB) && col("__v").isNotNull)
      .withColumn("__vu", round(col("__v") * 1e6, 0).cast("long"))
    def agg3(g: String, sfx: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$sfx"),
      sum(when(col("__g") === g, col("__vu")).otherwise(0L)).as(s"__s$sfx"),
      sum(when(col("__g") === g,
        col("__vu").cast("decimal(38,0)") * col("__vu"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as(s"__q$sfx"))
    val aggs = agg3(groupA, "a") ++ agg3(groupB, "b")
    val f = base.agg(aggs.head, aggs.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def m(s: String) = col(s"__s$s").cast("double") / nD(s)
    def ssd(s: String) = col(s"__q$s").cast("double") -
      col(s"__s$s").cast("double") * col(s"__s$s") / nD(s)
    def va(s: String) = ssd(s) / (nD(s) - 1.0) / nD(s)
    val se = sqrt(va("a") + va("b"))
    val t = (m("a") - m("b")) / se
    val dfW = (va("a") + va("b")) * (va("a") + va("b")) /
      (va("a") * va("a") / (nD("a") - 1.0) +
       va("b") * va("b") / (nD("b") - 1.0))
    val ok = col("__na") >= 2 && col("__nb") >= 2 &&
      ssd("a") + ssd("b") > 0
    f.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      round((m("a") - m("b")) / 1e6, 6).as("mean_diff"),
      round(when(ok, se / 1e6), 6).as("se_diff"),
      round(when(ok, t), 6).as("t_stat"),
      round(when(ok, dfW), 6).as("welch_df"),
      round(when(ok, (m("a") - m("b") - lit(zCrit) * se) / 1e6), 6)
        .as("diff_lo"),
      round(when(ok, (m("a") - m("b") + lit(zCrit) * se) / 1e6), 6)
        .as("diff_hi"))
  }

  /** Lag-k autocorrelation of a regular time series — the seasonality /
    * persistence diagnostic for forecast features ("is daily revenue
    * weekly-periodic?"): Pearson corr(xₜ, xₜ₋ₖ) for k = 1..maxLag over the
    * series produced by aggregating `df` to one `avg(valueCol)` point per
    * `bucketCol` (a date or hour column).
    *
    * Plan: ONE shuffled aggregation to the bucket grain (the only
    * corpus-sized stage), then all maxLag lag columns in a SINGLE global
    * window pass over the bucketed series — the series is bounded by the
    * calendar (≤ a few thousand rows for years of days), so the empty
    * `partitionBy()` is a bounded frame per the PLANS.md global-window
    * contract, not a corpus sort. One final fold computes every corr in
    * one aggregation; `stack` melts the k columns to (lag, autocorr) rows.
    * Gaps in the calendar are NOT filled: lag k means "k buckets earlier
    * in the observed series" — document-level honesty over silent
    * interpolation.
    */
  def autocorr(df: DataFrame, bucketCol: Column, valueCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64,
      s"autocorr: maxLag in [1, 64] (got $maxLag)")
    val series = df
      .groupBy(bucketCol.as("bucket"))
      .agg(avg(col(valueCol)).as("x"))
    val w = Window.partitionBy().orderBy(col("bucket"))
    val lagged = (1 to maxLag).foldLeft(series) { (d, k) =>
      d.withColumn(s"__lag$k", lag(col("x"), k).over(w))
    }
    val aggs = (1 to maxLag).flatMap { k =>
      Seq(corr(col("x"), col(s"__lag$k")).as(s"__corr$k"),
        count(col(s"__lag$k")).as(s"__n$k"))
    }
    val folded = lagged.groupBy().agg(aggs.head, aggs.tail: _*)
    folded
      .select(expr(
        (1 to maxLag).map(k => s"$k, __corr$k, __n$k")
          .mkString("stack(" + maxLag + ", ", ", ", ")")
          + " AS (lag, autocorr, n_pairs)"))
      .withColumn("autocorr", round(col("autocorr"), 6))
      .orderBy("lag")
  }

  /** Partial autocorrelation of a daily series at lags 1–3 — the
    * AR-order diagnostic [[autocorr]] can't give ("is the lag-2
    * correlation real structure, or just lag-1 echoing twice?"):
    * Durbin–Levinson closed forms over the lag-k Pearson correlations
    * of the observed (xₜ, xₜ₋ₖ) pairs. An AR(p) series shows PACF
    * cutting off after lag p while the ACF tails; three lags decide
    * AR(1) vs AR(2) vs AR(3), which is as deep as a forecast-feature
    * screen needs.
    *
    * Determinism: the daily value rides the centi lattice; per-lag
    * sufficient sums (n, Σa, Σb, Σab, Σa², Σb²) are EXACT decimal
    * folds (order-free), and every correlation and Durbin–Levinson
    * coefficient is one fixed double tree over those exact sums —
    * never a `corr()` whose accumulation order the engine picks.
    *
    * Plan: one corpus-sized keyed aggregation to the calendar-bounded
    * daily table, one lag window over that bounded frame (the
    * documented global-window class), one 1-row fold, a 3-row stack.
    */
  def pacf(df: DataFrame, dateCol: Column, valueCol: String): DataFrame = {
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val w = Window.partitionBy().orderBy(col("__d"))
    val lagged = daily
      .withColumn("__l1", lag(col("__y"), 1).over(w))
      .withColumn("__l2", lag(col("__y"), 2).over(w))
      .withColumn("__l3", lag(col("__y"), 3).over(w))
    def dec(c: Column) = c.cast("decimal(38,0)")
    def sumsFor(k: Int): Seq[Column] = {
      val b = col(s"__l$k"); val in = b.isNotNull
      Seq(count(when(in, lit(1))).as(s"__n$k"),
        sum(when(in, dec(col("__y")))).as(s"__sa$k"),
        sum(when(in, dec(b))).as(s"__sb$k"),
        sum(when(in, dec(col("__y")) * col("__y"))).as(s"__saa$k"),
        sum(when(in, dec(col("__y")) * b)).as(s"__sab$k"),
        sum(when(in, dec(b) * b)).as(s"__sbb$k"))
    }
    val allSums = (1 to 3).flatMap(sumsFor)
    val f = lagged.groupBy().agg(allSums.head, allSums.tail: _*)
    def d(c: String) = col(c).cast("double")
    def rK(k: Int): Column = {
      val nD = d(s"__n$k")
      val num = nD * d(s"__sab$k") - d(s"__sa$k") * d(s"__sb$k")
      val den = sqrt((nD * d(s"__saa$k") - d(s"__sa$k") * d(s"__sa$k")) *
        (nD * d(s"__sbb$k") - d(s"__sb$k") * d(s"__sb$k")))
      when(den > 0, num / den)
    }
    f.withColumn("__r1", rK(1))
      .withColumn("__r2", rK(2))
      .withColumn("__r3", rK(3))
      .withColumn("__d22", lit(1.0) - col("__r1") * col("__r1"))
      .withColumn("__p22", when(col("__d22") > 0,
        (col("__r2") - col("__r1") * col("__r1")) / col("__d22")))
      .withColumn("__p21", col("__r1") - col("__p22") * col("__r1"))
      .withColumn("__den3", lit(1.0) - col("__p21") * col("__r1") -
        col("__p22") * col("__r2"))
      .withColumn("__p33", when(col("__den3") > 0,
        (col("__r3") - col("__p21") * col("__r2") -
          col("__p22") * col("__r1")) / col("__den3")))
      .select(expr(
        "stack(3, 1, __n1, round(__r1, 6), round(__r1, 6)," +
          " 2, __n2, round(__r2, 6), round(__p22, 6)," +
          " 3, __n3, round(__r3, 6), round(__p33, 6))" +
          " AS (lag, n_pairs, acf, pacf)"))
      .orderBy("lag")
  }

  /** Kruskal–Wallis rank test across DECLARED groups — the
    * nonparametric ANOVA ("do the value distributions differ across
    * event types at all?") gating any pairwise drill-down. Ranks are
    * the exact integer 2×-midranks of [[spearman]]; per-group rank sums
    * are CASE-folded into ONE row so the k-term H combine is a fixed
    * left-to-right literal chain (never an aggregation whose order the
    * engine picks), and the tie correction Σ(t³−t)/(n³−n) comes from
    * exact long sums at the distinct-value grain. The declared roster
    * fails loud on drift (the markov-oracle contract).
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String,
                    groups: Seq[String]): DataFrame = {
    require(groups.nonEmpty && groups.size <= 32 &&
      groups.distinct == groups,
      s"kruskalWallis: 1..32 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "kruskalWallis", groups)
    val perValAggs = groups.sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    // per-(distinct value, group) counts carry EVERYTHING the H combine
    // needs (rank sums are Σ cⱼ(v)·r2(v)), so the exact form never
    // joins ranks back to the corpus — ONE corpus pass (the round-9
    // plan fix), and the binned twin reuses the identical fold
    val perVal = base.groupBy(col("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    kwFold(perVal, groups)
  }

  /** Kruskal–Wallis close over a per-distinct-value per-group count
    * frame (`__v` + `__c0..__c{k-1}` in groups.sorted order): bounded
    * ordered window for the 2×-midranks, one CASE-free fold (rank
    * products in decimal(38,0)), fixed-order H combine. */
  private def kwFold(perVal: DataFrame, groups: Seq[String]): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val withN = perVal.withColumn("__n",
      groups.indices.map(i => col(s"__c$i")).reduce(_ + _))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = withN.withColumn("__r2",
      lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
        + col("__n") + lit(1L))
    val aggs = groups.indices.flatMap { i =>
      Seq(coalesce(sum(col(s"__c$i")), lit(0L)).as(s"__n$i"),
        coalesce(sum(dec(col(s"__c$i")) * col("__r2")),
          lit(0L).cast("decimal(38,0)")).as(s"__s$i"))
    } ++ Seq(coalesce(sum(col("__n")), lit(0L)).as("n"),
      // the tie cube folds through decimal(38,0): one tie group over
      // ~2.1M pairs would silently wrap a Long cube in Spark while the
      // oracle's wide-integer cube doesn't (the spearman overflow lesson)
      coalesce(sum(dec(col("__n")) * col("__n") * col("__n") - col("__n")),
        lit(0L).cast("decimal(38,0)")).as("__tsum"))
    val folded = ranked.agg(aggs.head, aggs.tail: _*)
    // H = 3/(n(n+1)) · Σ s2ⱼ²/nⱼ − 3(n+1)  (2×-rank algebra folds the
    // usual 12/(n(n+1)) and the /4 from squaring the doubled ranks)
    val hTerms = groups.indices.map(i =>
      col(s"__s$i").cast("double") * col(s"__s$i").cast("double")
        / col(s"__n$i"))
      .reduce(_ + _)
    val nn = col("n").cast("double")
    val h = lit(3.0) / (nn * (nn + 1.0)) * hTerms - lit(3.0) * (nn + 1.0)
    folded
      .select((Seq(col("n")) ++
        groups.sorted.zipWithIndex.map { case (g, i) =>
          col(s"__n$i").as(s"n_$g") } ++ Seq(
        round(h, 6).as("h"),
        round(lit(1.0) - col("__tsum").cast("double")
          / (nn * nn * nn - nn), 6).as("tie_correction"),
        round(h / (lit(1.0) - col("__tsum").cast("double")
          / (nn * nn * nn - nn)), 6).as("h_adjusted"),
        lit(groups.size - 1).as("df"))): _*)
  }

  /** [[kruskalWallis]] over [[Drift.latticeBin]]-coarsened values — the
    * 100 TB form of the rank ANOVA: 2×-midranks are computed at the
    * BIN grain (≤ `bins` rows under the ordered window) instead of the
    * distinct-value grain, which on a continuous axis is data-sized.
    * Within-bin values become exact ties at the bin's midrank — the
    * H statistic of the coarsened distributions, within the one-bin
    * rank-relocation bound (StatsSpec pins it: same verdict as exact
    * on separated groups, H within a few % at bins=100 on interleaved
    * ones). Same single corpus pass as the exact form (per-value
    * counts first, binned on the distinct frame), identical fold; the
    * DuckDB oracle replays the statistic of the coarsened values.
    */
  def kruskalWallisBinned(df: DataFrame, groupCol: String, valueCol: String,
                          groups: Seq[String], bins: Int = 1000): DataFrame = {
    require(groups.nonEmpty && groups.size <= 32 &&
      groups.distinct == groups,
      s"kruskalWallisBinned: 1..32 distinct declared groups (got $groups)")
    val v = col(valueCol).cast("double")
    val base = df.select(col(groupCol).as("__g"), v.as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v")))
    checkRoster(base, "kruskalWallisBinned", groups)
    val perValAggs = groups.sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    val perVal = base
      .groupBy(round(col("__v") * 100, 0).cast("long").as("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    kwFold(Drift.binCounts(perVal, bins,
        groups.indices.map(i => s"__c$i"))
      .select((col("__bin").cast("double").as("__v") +:
        groups.indices.map(i => col(s"__c$i"))): _*), groups)
  }

  /** Dunn's post-hoc test — the pairwise drill-down AFTER
    * [[kruskalWallis]] rejects: which groups actually differ? For each
    * of the k(k−1)/2 pairs, z = (R̄ᵢ − R̄ⱼ) / √(σ²·(1/nᵢ + 1/nⱼ)) with
    * the POOLED tie-corrected rank variance σ² = [n(n+1) −
    * Σ(t³−t)/(n−1)]/12 — the shared-ranking form that makes the pairs
    * comparable (re-ranking each pair separately, à la pairwise
    * [[mannWhitney]], answers a different question). Readers apply
    * Bonferroni/BH on |z| downstream — |z| order ≡ p order, so the
    * emitted `abs_z_rank` IS the BH ordering.
    *
    * Determinism: the exact integer 2×-midranks of [[kruskalWallis]]
    * (identical fold — per-distinct-value CASE counts, bounded ordered
    * window, decimal rank-sum products); each pair's z is a fixed
    * double tree over the one folded row. Degenerate pairs (an empty
    * group) surface as NULL z.
    *
    * Plan: ONE corpus pass to per-value counts, the bounded
    * distinct-grain window, one fold, then a k(k−1)/2-row explode of
    * the single folded row — pairs cost projection, not passes. On a
    * continuous (data-sized) value axis use [[dunnTestBinned]], same
    * contract as the [[kruskalWallisBinned]] twin.
    */
  def dunnTest(df: DataFrame, groupCol: String, valueCol: String,
               groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 16 &&
      groups.distinct == groups,
      s"dunnTest: 2..16 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "dunnTest", groups)
    val perValAggs = groups.sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    val perVal = base.groupBy(col("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    dunnFold(perVal, groups)
  }

  /** [[dunnTest]] over [[Drift.latticeBin]]-coarsened values — the
    * 100 TB form (the [[kruskalWallisBinned]] contract: bin-grain
    * midranks, within-one-bin rank relocation, identical downstream
    * fold; the oracle replays the coarsened statistic). */
  def dunnTestBinned(df: DataFrame, groupCol: String, valueCol: String,
                     groups: Seq[String], bins: Int = 1000): DataFrame = {
    require(groups.size >= 2 && groups.size <= 16 &&
      groups.distinct == groups,
      s"dunnTestBinned: 2..16 distinct declared groups (got $groups)")
    val v = col(valueCol).cast("double")
    val base = df.select(col(groupCol).as("__g"), v.as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v")))
    checkRoster(base, "dunnTestBinned", groups)
    val perValAggs = groups.sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    val perVal = base
      .groupBy(round(col("__v") * 100, 0).cast("long").as("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    dunnFold(Drift.binCounts(perVal, bins,
        groups.indices.map(i => s"__c$i"))
      .select((col("__bin").cast("double").as("__v") +:
        groups.indices.map(i => col(s"__c$i"))): _*), groups)
  }

  /** Dunn close over the [[kwFold]] input frame: shared-pool midranks,
    * pooled tie-corrected variance, one z per pair from the single
    * folded row (exploded to pair rows, ordered). */
  private def dunnFold(perVal: DataFrame, groups: Seq[String]): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sorted = groups.sorted
    val withN = perVal.withColumn("__n",
      groups.indices.map(i => col(s"__c$i")).reduce(_ + _))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = withN.withColumn("__r2",
      lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
        + col("__n") + lit(1L))
    val aggs = groups.indices.flatMap { i =>
      Seq(coalesce(sum(col(s"__c$i")), lit(0L)).as(s"__n$i"),
        coalesce(sum(dec(col(s"__c$i")) * col("__r2")),
          lit(0L).cast("decimal(38,0)")).as(s"__s$i"))
    } ++ Seq(coalesce(sum(col("__n")), lit(0L)).as("__nt"),
      // the tie cube folds through decimal(38,0): one tie group over
      // ~2.1M pairs would silently wrap a Long cube in Spark while the
      // oracle's wide-integer cube doesn't (the spearman overflow lesson)
      coalesce(sum(dec(col("__n")) * col("__n") * col("__n") - col("__n")),
        lit(0L).cast("decimal(38,0)")).as("__tsum"))
    val folded = ranked.agg(aggs.head, aggs.tail: _*)
    val nn = col("__nt").cast("double")
    // pooled tie-corrected rank variance (1×-rank units)
    val sig2 = (nn * (nn + 1.0) -
      col("__tsum").cast("double") / when(nn > 1.0, nn - 1.0)) / 12.0
    def nj(i: Int) = col(s"__n$i").cast("double")
    // mean 1×-midrank: the 2×-rank sum halves once, per group
    def mr(i: Int) = col(s"__s$i").cast("double") /
      (lit(2.0) * when(nj(i) > 0, nj(i)))
    val pairs = for {
      i <- sorted.indices; j <- (i + 1) until sorted.size
    } yield (i, j)
    val pairStructs = pairs.map { case (i, j) =>
      val z = (mr(i) - mr(j)) /
        sqrt(when(sig2 > 0, sig2) * (lit(1.0) / when(nj(i) > 0, nj(i)) +
          lit(1.0) / when(nj(j) > 0, nj(j))))
      struct(lit(sorted(i)).as("group_a"), lit(sorted(j)).as("group_b"),
        col(s"__n$i").as("n_a"), col(s"__n$j").as("n_b"),
        round(when(nj(i) > 0, mr(i)), 6).as("mean_rank_a"),
        round(when(nj(j) > 0, mr(j)), 6).as("mean_rank_b"),
        round(when(col(s"__n$i") > 0 && col(s"__n$j") > 0 && sig2 > 0, z),
          6).as("z"))
    }
    val exploded = folded.select(explode(array(pairStructs: _*)).as("__p"))
      .select(col("__p.*"))
    // |z| rank = the BH/Bonferroni ordering (largest |z| = rank 1)
    exploded.withColumn("abs_z_rank",
        row_number().over(Window.orderBy(
          abs(col("z")).desc_nulls_last,
          col("group_a").asc, col("group_b").asc)))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between TWO declared groups:
    * the two-sample special case a reader reaches for before
    * [[kruskalWallis]]'s k-sample H — "do purchases stochastically
    * dominate views?" — with the tie-corrected normal z and the
    * effect size r = z/√n. U is reported exactly even under midrank
    * ties (2U is always an integer).
    *
    * Determinism: the exact integer 2×-midranks of [[kruskalWallis]]
    * (distinct-value grain, no per-row sort); 2U and the tie term
    * Σ(t³−t) are exact long folds; z and r are one fixed double tree
    * each. Degenerate slices (a group empty after filtering, zero rank
    * variance) surface as NULLs.
    *
    * Plan: one distinct-value aggregation + a bounded window over the
    * distinct-value frame + one corpus fold. One output row.
    */
  /** Wilcoxon signed-rank test — the PAIRED complement of
    * [[mannWhitney]]'s two-sample rank sum: per key, the pre-cutoff and
    * post-cutoff value totals form one pair; zero diffs drop (the
    * classical treatment), |diffs| are midranked with ties, and
    * W⁺ = Σ ranks of positive diffs is normal-approximated with the
    * tie-corrected variance n(n+1)(2n+1)/24 − Σ(t³−t)/48. Detects a
    * consistent per-key shift that a means test dilutes when a few
    * heavy keys move the other way.
    *
    * Determinism: per-key diffs are exact centi longs (each value
    * commits to the lattice before the per-key fold), so midranks are
    * exact integers doubled (the mwFold r2 trick) and W⁺ folds through
    * decimal(38,0); z is one fixed double tree.
    *
    * Plan: ONE key-grain aggregation (corpus-sized stage), then the
    * distinct-|d| count grain — the count-grain rewrite that fixed the
    * round-8 rank stats, never a rank join back to keys.
    */
  def wilcoxonSignedRank(df: DataFrame, keyCol: String, dateCol: Column,
                         valueCol: String, cutoff: String): DataFrame = {
    val cut = lit(cutoff).cast("date")
    val vc = round(col(valueCol) * 100, 0).cast("long")
    val per = df.groupBy(col(keyCol))
      .agg(coalesce(sum(when(dateCol < cut, vc)), lit(0L)).as("__pre"),
        coalesce(sum(when(dateCol >= cut, vc)), lit(0L)).as("__post"))
      .select((col("__post") - col("__pre")).as("__d"))
      .filter(col("__d") =!= 0L)
    val perAbs = per.groupBy(abs(col("__d")).as("__a"))
      .agg(sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__cp"),
        count(lit(1)).as("__n"))
    val w = Window.orderBy(col("__a"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val withR = perAbs.withColumn("__r2",
      lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
        + col("__n") + lit(1L))
    val f = withR.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_pairs"),
      coalesce(sum(col("__cp")), lit(0L)).as("n_pos"),
      coalesce(sum(dec(col("__cp")) * col("__r2")),
        lit(0L).cast("decimal(38,0)")).as("__w2p"),
      // the tie cube folds through decimal(38,0): one tie group over
      // ~2.1M pairs would silently wrap a Long cube in Spark while the
      // oracle's wide-integer cube doesn't (the spearman overflow lesson)
      coalesce(sum(dec(col("__n")) * col("__n") * col("__n") - col("__n")),
        lit(0L).cast("decimal(38,0)")).as("__tsum"))
    val nD = col("n_pairs").cast("double")
    val wp = col("__w2p").cast("double") / 2.0
    val varW = nD * (nD + 1.0) * (nD * 2.0 + 1.0) / 24.0 -
      col("__tsum").cast("double") / 48.0
    val z = (wp - nD * (nD + 1.0) / 4.0) / sqrt(varW)
    val ok = col("n_pairs") >= 1
    f.select(col("n_pairs"), col("n_pos"),
      (col("n_pairs") - col("n_pos")).as("n_neg"),
      round(when(ok, wp), 6).as("w_plus"),
      round(when(ok, nD * (nD + 1.0) / 2.0 - wp), 6).as("w_minus"),
      round(when(ok && varW > 0, z), 6).as("z"))
  }

  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB,
      s"mannWhitney: groups must differ (got '$groupA' twice)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isin(groupA, groupB) && col("__v").isNotNull)
    val perVal = base.groupBy(col("__v")).agg(
      sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
      sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__cb"))
    mwFold(perVal)
  }

  /** The Mann–Whitney close over a per-distinct-value two-side count
    * frame — R_a2 = Σ ca(v)·r2(v) needs only the counts, so the exact
    * form never joins ranks back to the corpus (ONE corpus pass, the
    * round-9 plan fix) and [[mannWhitneyBinned]] reuses the identical
    * fold over the bin grain. Rank-sum products go through
    * decimal(38,0) (they aggregate to ~2n², the spearman overflow
    * lesson applied preemptively).
    */
  private def mwFold(perVal: DataFrame): DataFrame = {
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val withR = perVal
      .withColumn("__n", col("__ca") + col("__cb"))
      .withColumn("__r2",
        lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
          + col("__n") + lit(1L))
    val f = withR.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__cb")), lit(0L)).as("n_b"),
      coalesce(sum(dec(col("__ca")) * col("__r2")),
        lit(0L).cast("decimal(38,0)")).as("__ra2"),
      // the tie cube folds through decimal(38,0): one tie group over
      // ~2.1M pairs would silently wrap a Long cube in Spark while the
      // oracle's wide-integer cube doesn't (the spearman overflow lesson)
      coalesce(sum(dec(col("__n")) * col("__n") * col("__n") - col("__n")),
        lit(0L).cast("decimal(38,0)")).as("__tsum"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    // 2U_a = R_a2 − n_a(n_a+1): exact integer (decimal-held); U_b from
    // U_a + U_b = n_a·n_b
    val u2a = col("__ra2") - col("n_a") * (col("n_a") + 1L)
    val varU = naD * nbD / 12.0 *
      ((nD + 1.0) - col("__tsum").cast("double") / (nD * (nD - 1.0)))
    val z = (u2a.cast("double") - naD * nbD) / (lit(2.0) * sqrt(varU))
    val ok = col("n_a") >= 1 && col("n_b") >= 1
    f.select(col("n_a"), col("n_b"),
      round(when(ok, u2a.cast("double") / 2.0), 6).as("u_a"),
      round(when(ok, (naD * nbD) - u2a.cast("double") / 2.0), 6).as("u_b"),
      round(when(ok && varU > 0, z), 6).as("z"),
      round(when(ok && varU > 0, z / sqrt(nD)), 6).as("effect_size_r"))
  }

  /** [[mannWhitney]] over [[Drift.latticeBin]]-coarsened values — the
    * 100 TB form: 2×-midranks at the bin grain, the tie term counts
    * within-bin mass as exact ties, U/z/r are the statistics of the
    * coarsened distributions (one-bin rank-relocation bound; the
    * direction of stochastic dominance is preserved whenever the true
    * |z| clears the coarsening noise — StatsSpec pins it). Same
    * single-corpus-pass count-grain plan as [[kruskalWallisBinned]].
    */
  def mannWhitneyBinned(df: DataFrame, groupCol: String, valueCol: String,
                        groupA: String, groupB: String,
                        bins: Int = 1000): DataFrame = {
    require(groupA != groupB,
      s"mannWhitneyBinned: groups must differ (got '$groupA' twice)")
    val v = col(valueCol).cast("double")
    val perVal = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        v.isNotNull && !isnan(v))
      .groupBy(round(v * 100, 0).cast("long").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L))
        .as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    mwFold(Drift.binCounts(perVal, bins, Seq("__ca", "__cb"))
      .select(col("__bin").cast("double").as("__v"), col("__ca"),
        col("__cb")))
  }

  /** Ljung–Box portmanteau test over the daily series: is there ANY
    * autocorrelation in the first `maxLag` lags —
    * Q = n(n+2)·Σ ρ̂ₖ²/(n−k), the one-number gate before trusting an
    * i.i.d. assumption (residual diagnostics, bootstrap validity).
    * Built ON [[autocorr]]'s rounded coefficients (both engines fold
    * identical 6-decimal ρ̂ values), with each lag's term committed to
    * a 1e-12 lattice before the ≤maxLag-row sum.
    */
  def ljungBox(df: DataFrame, bucketCol: Column, valueCol: String,
               maxLag: Int): DataFrame = {
    val ac = autocorr(df, bucketCol, valueCol, maxLag)
    val nSeries = df.select(bucketCol.as("__b")).distinct().count()
    require(nSeries > maxLag,
      s"ljungBox: series length $nSeries must exceed maxLag $maxLag")
    val folded = ac.filter(col("autocorr").isNotNull).agg(
      count(lit(1)).as("lags_used"),
      sum(round(col("autocorr") * col("autocorr")
        / (lit(nSeries) - col("lag")) * 1e12, 0).cast("long")).as("__qm"))
    folded.select(lit(nSeries).as("n_buckets"), col("lags_used"),
      round(lit((nSeries * (nSeries + 2)).toDouble)
        * (col("__qm") / lit(1e12)), 6).as("q_stat"))
  }

  /** Cramér's V association between two CATEGORICAL columns — "how much
    * does knowing `lang` tell you about `source`?" on a 0..1 scale, the
    * effect-size companion to a raw χ² (which grows with n even for
    * trivial association). Includes the Bergsma (2013) bias-corrected
    * variant, which is ~0 for independent columns at any n (the raw V is
    * biased upward on small/filtered slices).
    *
    * Determinism: joint counts are exact longs; each observed cell's
    * term n·nxy²/(nx·ny) is evaluated in doubles from exact integers
    * with ONE fixed expression tree, committed to a 1e-9 lattice, and
    * summed as longs — the cell-order of the shuffle can't move the
    * statistic. χ² = Σterms − n (the sum-of-squares identity), so the
    * EMPTY cells the joint count never emits are absorbed exactly by
    * the −n and sparse tables need no densify pass.
    *
    * Plan: one shuffled joint count at the (x, y) grain (map-side
    * combined), windows over the bounded contingency table. One row out.
    */
  def cramersV(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val joint = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__nxy"))
    val all = Window.partitionBy()
    val wx = Window.partitionBy(col("__x"))
    val wy = Window.partitionBy(col("__y"))
    // chi2 = n·Σ nxy²/(nx·ny) − n over OBSERVED cells only — the empty
    // cells of the contingency table (never emitted by the joint count)
    // are absorbed by the −n, so sparse tables need no densify pass
    val nxyD = col("__nxy").cast("double")
    val term = col("__n").cast("double") * nxyD * nxyD /
      (col("__nx").cast("double") * col("__ny"))
    val folded = joint
      .withColumn("__n", sum(col("__nxy")).over(all))
      .withColumn("__nx", sum(col("__nxy")).over(wx))
      .withColumn("__ny", sum(col("__nxy")).over(wy))
      .withColumn("__cell", round(term * 1e9, 0).cast("long"))
      .agg(max(col("__n")).as("n"),
        countDistinct(col("__x")).as("r"),
        countDistinct(col("__y")).as("c"),
        (sum(col("__cell")) / 1e9).as("__t"))
    val nD = col("n").cast("double")
    val rD = col("r").cast("double")
    val cD = col("c").cast("double")
    val chi2 = col("__t") - nD
    val phi2 = chi2 / nD
    // Bergsma bias correction: subtract the independence-expected phi2
    // and shrink the table dims; max(0, .) keeps degenerate slices at 0
    val phi2c = greatest(lit(0.0),
      phi2 - (rD - 1.0) * (cD - 1.0) / (nD - 1.0))
    val rC = rD - (rD - 1.0) * (rD - 1.0) / (nD - 1.0)
    val cC = cD - (cD - 1.0) * (cD - 1.0) / (nD - 1.0)
    folded.select(col("n"), col("r"), col("c"),
      ((col("r") - 1L) * (col("c") - 1L)).cast("int").as("dof"),
      round(chi2, 6).as("chi2"),
      round(sqrt(phi2 / least(rD - 1.0, cD - 1.0)), 6).as("cramers_v"),
      round(sqrt(phi2c / least(rC - 1.0, cC - 1.0)), 6)
        .as("cramers_v_corrected"))
  }

  /** Standardized and adjusted Pearson residuals per contingency cell:
    * after [[cramersV]] says the two categoricals are associated, WHICH
    * cells carry it? Adjusted residuals are asymptotically N(0,1), so
    * |r| > 2 marks a cell over/under-represented beyond chance — the
    * drill-down from "lang and source are associated" to "de docs are
    * over-represented in crawl B". Only OBSERVED cells are emitted
    * (the −n absorption of [[cramersV]] does not apply here; an
    * all-zero cell has residual −√e, which a reader finds by its
    * absence — documented).
    *
    * Determinism: joint/marginal counts are exact longs via windows
    * over the bounded contingency table; each residual is one fixed
    * double tree on those longs.
    */
  def crosstabResiduals(df: DataFrame, xCol: String,
                        yCol: String): DataFrame = {
    val joint = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_obs"))
    val all = Window.partitionBy()
    val wx = Window.partitionBy(col("x"))
    val wy = Window.partitionBy(col("y"))
    val t = joint
      .withColumn("__n", sum(col("n_obs")).over(all))
      .withColumn("__nx", sum(col("n_obs")).over(wx))
      .withColumn("__ny", sum(col("n_obs")).over(wy))
    val nD = col("__n").cast("double")
    val e = col("__nx").cast("double") * col("__ny") / nD
    val diff = col("n_obs").cast("double") - e
    val adjDen = sqrt(e * (lit(1.0) - col("__nx").cast("double") / nD) *
      (lit(1.0) - col("__ny").cast("double") / nD))
    t.select(col("x"), col("y"), col("n_obs"),
      round(e, 6).as("expected"),
      round(when(e > 0, diff / sqrt(e)), 6).as("std_residual"),
      round(when(adjDen > 0, diff / adjDen), 6).as("adj_residual"))
      .orderBy("x", "y")
  }

  /** Cochran's Q across DECLARED time slots: did the per-entity BINARY
    * outcome rate change across the k repeated measurements ("did the
    * same users keep purchasing week over week")? The k-sample
    * McNemar generalization for within-subject designs, where
    * [[anovaOneWay]]'s independence assumption is wrong by
    * construction. An entity with no row in a slot counts as a
    * failure there (full-roster semantics).
    *
    * Determinism: every sufficient statistic (slot totals Cⱼ, ΣRᵢ,
    * ΣRᵢ²) is an exact long fold; Q is one fixed double tree. The
    * declared slot roster bounds the CASE fold; out-of-roster slots
    * are ignored.
    *
    * Plan: one distinct on (entity, slot) hits, one entity-grain
    * aggregation, two 1-row folds. No window.
    */
  def cochranQ(df: DataFrame, keyCol: String, slotCol: Column,
               success: Column, slots: Seq[Int]): DataFrame = {
    require(slots.size >= 2 && slots.size <= 32 &&
      slots.distinct == slots,
      s"cochranQ: 2..32 distinct declared slots (got $slots)")
    val k = slots.size
    val base = df.select(col(keyCol).as("__k"),
        slotCol.cast("int").as("__slot"), success.as("__y"))
      .filter(col("__k").isNotNull)
    val users = base.select(col("__k")).distinct()
    val hits = base.filter(col("__y") && col("__slot").isin(slots: _*))
      .select(col("__k"), col("__slot")).distinct()
      .localCheckpoint(eager = false)
    val cAggs = slots.zipWithIndex.map { case (sl, i) =>
      sum(when(col("__slot") === sl, 1L).otherwise(0L)).as(s"__c$i") }
    val cols0 = hits.agg(cAggs.head, cAggs.tail: _*)
    val rows0 = hits.groupBy(col("__k")).agg(count(lit(1)).as("__r"))
      .agg(sum(col("__r")).as("__t"),
        sum(col("__r") * col("__r")).as("__r2"))
    val nU = users.agg(count(lit(1)).as("n_entities"))
    val f = nU.crossJoin(broadcast(cols0)).crossJoin(broadcast(rows0))
      .na.fill(0L)
    val cSq = slots.indices.map(i =>
      col(s"__c$i").cast("double") * col(s"__c$i")).reduce(_ + _)
    val tD = col("__t").cast("double")
    val den = lit(k.toDouble) * tD - col("__r2").cast("double")
    val q = lit((k - 1).toDouble) * (lit(k.toDouble) * cSq - tD * tD) / den
    f.select((Seq(col("n_entities"), lit(k).as("k_slots"),
      col("__t").as("t_successes")) ++
      slots.zipWithIndex.map { case (sl, i) =>
        col(s"__c$i").as(s"c_$sl") } ++ Seq(
      round(when(den > 0, q), 6).as("q_stat"),
      lit(k - 1).as("df"))): _*)
  }

  /** Brown–Forsythe (median-centered Levene) test: do the DECLARED
    * groups have equal value SPREAD? The variance-homogeneity gate in
    * front of any pooled-variance comparison ([[kruskalWallis]] asks
    * about location; this asks about scale — a drifted segment often
    * moves its variance first). Median-centered (Brown–Forsythe 1974)
    * rather than mean-centered for robustness to the heavy tails real
    * value columns have.
    *
    * Determinism: group medians are exact interpolated percentiles
    * (identical definition in Spark's `percentile` and DuckDB's
    * `quantile_cont`); each |v − med| deviation is committed to the 1e-6
    * lattice as a long, so Σz is exact and Σz² is an exact DECIMAL sum;
    * the W combine is a fixed left-to-right chain over the k CASE-folded
    * per-group sums in micro units (W is scale-invariant, so the lattice
    * scale cancels and never needs unwinding).
    *
    * Plan: one keyed exact-percentile aggregation (k groups), medians
    * broadcast back, one corpus fold to a single row. The exact
    * percentile is the documented per-group-sorted caveat shared with
    * `q_percentiles` — swap to approx_percentile off the oracle path.
    */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String,
                    groups: Seq[String]): DataFrame = {
    require(groups.nonEmpty && groups.size <= 32 &&
      groups.distinct == groups,
      s"brownForsythe: 1..32 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "brownForsythe", groups)
    val med = base.groupBy(col("__g"))
      .agg(expr("percentile(__v, 0.5D)").as("__med"))
    val z = base.join(broadcast(med), Seq("__g"))
      .withColumn("__zu",
        round(abs(col("__v") - col("__med")) * 1e6, 0).cast("long"))
    val sorted = groups.sorted
    val aggs = sorted.zipWithIndex.flatMap { case (g, i) =>
      Seq(sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$i"),
        sum(when(col("__g") === g, col("__zu")).otherwise(0L)).as(s"__s$i"),
        sum(when(col("__g") === g,
          col("__zu").cast("decimal(38,0)") * col("__zu"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as(s"__q$i"))
    } :+ count(lit(1)).as("n")
    val folded = z.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    val k = sorted.size
    def nj(i: Int) = col(s"__n$i").cast("double")
    def mj(i: Int) = col(s"__s$i").cast("double") / nj(i)
    val grand = sorted.indices.map(i => col(s"__s$i"))
      .reduce(_ + _).cast("double") / nD
    val num = sorted.indices
      .map(i => nj(i) * (mj(i) - grand) * (mj(i) - grand)).reduce(_ + _)
    val den = sorted.indices.map(i => col(s"__q$i").cast("double") -
      col(s"__s$i").cast("double") * col(s"__s$i") / nj(i)).reduce(_ + _)
    val w = (nD - k) / lit((k - 1).toDouble) * num / den
    folded.select((Seq(col("n")) ++
      sorted.zipWithIndex.map { case (g, i) => col(s"__n$i").as(s"n_$g") } ++
      Seq(round(w, 6).as("w_stat"),
        lit(k - 1).as("df1"),
        (col("n") - k).as("df2"))): _*)
  }

  /** One-way ANOVA across DECLARED groups — the parametric companion to
    * [[kruskalWallis]] (which tests rank shifts) and [[brownForsythe]]
    * (which tests spread): "do the group MEANS differ, and by how much
    * of the total variance?" Emits the classic equal-variance F with
    * both effect sizes (η² biased-up on small slices, ω² its unbiased
    * repair) AND Welch's heteroscedastic F with Satterthwaite df — the
    * variant a reader should trust when [[brownForsythe]] rejects.
    *
    * Determinism: values commit to the 1e-6 integer lattice ONCE, so
    * every sufficient statistic (nⱼ, Σv, Σv²) is an exact long/decimal
    * fold in any partition order; F, η², ω², and Welch's F are all
    * ratios of lattice-scaled quantities whose scale cancels, evaluated
    * as ONE fixed left-to-right chain over the k CASE-folded per-group
    * columns. The declared roster fails loud on drift (the
    * markov-oracle contract). Degenerate slices (a zero-variance group)
    * surface as NULL Welch columns, never a divide-by-zero throw.
    *
    * Plan: one corpus fold to a single row (map-side combined CASE
    * aggregates) — no shuffle beyond the 1-row combine, no window.
    */
  def anovaOneWay(df: DataFrame, groupCol: String, valueCol: String,
                  groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"anovaOneWay: 2..32 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "anovaOneWay", groups)
    val lat = base.withColumn("__vu",
      round(col("__v") * 1e6, 0).cast("long"))
    val sorted = groups.sorted
    val k = sorted.size
    val aggs = sorted.zipWithIndex.flatMap { case (g, i) =>
      Seq(sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$i"),
        sum(when(col("__g") === g, col("__vu")).otherwise(0L)).as(s"__s$i"),
        sum(when(col("__g") === g,
          col("__vu").cast("decimal(38,0)") * col("__vu"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as(s"__q$i"))
    } :+ count(lit(1)).as("n")
    val folded = lat.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    def nj(i: Int) = col(s"__n$i").cast("double")
    def mj(i: Int) = col(s"__s$i").cast("double") / nj(i)
    // per-group sum of squared deviations from the group mean, exact
    // decimal minus one rational — the shared SSW building block
    def ssw(i: Int) = col(s"__q$i").cast("double") -
      col(s"__s$i").cast("double") * col(s"__s$i") / nj(i)
    val grand = sorted.indices.map(i => col(s"__s$i"))
      .reduce(_ + _).cast("double") / nD
    val ssb = sorted.indices
      .map(i => nj(i) * (mj(i) - grand) * (mj(i) - grand)).reduce(_ + _)
    val sswAll = sorted.indices.map(ssw).reduce(_ + _)
    val msw = sswAll / (nD - k)
    val f = ssb / lit((k - 1).toDouble) / msw
    // Welch: weights wj = nj/s2j (NULL-guarded on zero-variance groups)
    def s2j(i: Int) = ssw(i) / (nj(i) - 1.0)
    def wj(i: Int) = when(ssw(i) > 0, nj(i) / s2j(i))
    val wSum = sorted.indices.map(wj).reduce(_ + _)
    val mW = sorted.indices.map(i => wj(i) * mj(i)).reduce(_ + _) / wSum
    val aW = sorted.indices
      .map(i => wj(i) * (mj(i) - mW) * (mj(i) - mW)).reduce(_ + _) /
      lit((k - 1).toDouble)
    val lam = sorted.indices
      .map(i => (lit(1.0) - wj(i) / wSum) * (lit(1.0) - wj(i) / wSum) /
        (nj(i) - 1.0)).reduce(_ + _)
    val bW = lit(1.0) + lit(2.0 * (k - 2) / (k * k - 1).toDouble) * lam
    folded.select((Seq(col("n")) ++
      sorted.zipWithIndex.map { case (g, i) => col(s"__n$i").as(s"n_$g") } ++
      Seq(round(f, 6).as("f_stat"),
        lit(k - 1).as("df1"),
        (col("n") - k).as("df2"),
        round(ssb / (ssb + sswAll), 6).as("eta2"),
        round(greatest(lit(0.0), (ssb - lit((k - 1).toDouble) * msw) /
          (ssb + sswAll + msw)), 6).as("omega2"),
        round(aW / bW, 6).as("welch_f"),
        round(lit((k * k - 1).toDouble) / (lit(3.0) * lam), 6)
          .as("welch_df2"))): _*)
  }

  /** Hurst exponent via rescaled-range (R/S) analysis over the daily
    * series — long-range dependence in one number: H ≈ 0.5 is a random
    * walk, H > 0.5 persistent (trends feed themselves: load, revenue
    * momentum), H < 0.5 mean-reverting. The capacity-planning and
    * forecast-model-selection gate next to [[autocorr]]/[[ljungBox]]
    * (which only see FIXED lags; R/S sees scaling across lags).
    *
    * Method: for each block size m, split the rank-ordered daily series
    * into ⌊N/m⌋ full blocks; per block compute the range R of cumulative
    * deviations from the block mean and the population std S; average
    * R/S per m; H = OLS slope of ln(mean R/S) on ln(m).
    *
    * Determinism: daily values ride the centi lattice (exact longs);
    * block arithmetic is m-SCALED so the block mean never appears as a
    * rational — m·W_j = m·csum_j − j·S_blk and m·d_i = m·x_i − S_blk are
    * exact longs, Σ(m·d)² an exact decimal, so R and S derive from exact
    * integers and one fixed double tree. Per-block R/S commits to the
    * 1e-6 lattice before the per-m mean; the ln(m) regressor literals are
    * computed ONCE here and injected verbatim into both engines (the
    * shared-literal contract), and the 5-point slope folds left-to-right.
    *
    * Plan: one keyed daily aggregation (corpus-sized), then ×|blockSizes|
    * replication of the CALENDAR-BOUNDED day table through partitioned
    * windows — the documented bounded-global-window class.
    */
  def hurstRS(df: DataFrame, dateCol: Column, valueCol: String,
              blockSizes: Seq[Int] = Seq(8, 16, 32, 64, 128)): DataFrame = {
    require(blockSizes.nonEmpty && blockSizes.size <= 8 &&
      blockSizes.forall(_ >= 4) && blockSizes.distinct == blockSizes,
      s"hurstRS: 1..8 distinct block sizes >= 4 (got $blockSizes)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__x"))
    val nDays = daily.count()
    require(nDays >= 2L * blockSizes.max,
      s"hurstRS: need >= ${2 * blockSizes.max} days for >= 2 blocks at " +
        s"the largest block size, got $nDays")
    val ranked = daily.withColumn("__rn",
      row_number().over(Window.orderBy(col("__d"))).cast("long"))
    val blk = ranked
      .select(explode(array(blockSizes.map(m => lit(m.toLong)): _*))
        .as("__m"), col("__rn"), col("__x"))
      .withColumn("__blk", expr("(__rn - 1) div __m"))
      .withColumn("__pos", col("__rn") - 1L - col("__blk") * col("__m"))
    val wBlk = Window.partitionBy(col("__m"), col("__blk"))
    val wCum = wBlk.orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = blk
      .withColumn("__cnt", count(lit(1)).over(wBlk))
      .filter(col("__cnt") === col("__m"))
      .withColumn("__s", sum(col("__x")).over(wBlk))
      .withColumn("__csum", sum(col("__x")).over(wCum))
      .withColumn("__mw",
        col("__m") * col("__csum") - (col("__pos") + 1L) * col("__s"))
      .withColumn("__md", col("__m") * col("__x") - col("__s"))
    val mD = col("__m").cast("double")
    val rs = (col("__range").cast("double") / mD) /
      sqrt(col("__ss").cast("double") / (mD * mD * mD))
    val perM = full.groupBy(col("__m"), col("__blk"))
      .agg((max(col("__mw")) - min(col("__mw"))).as("__range"),
        sum(col("__md").cast("decimal(38,0)") * col("__md")).as("__ss"))
      .filter(col("__ss") > 0)
      .withColumn("__rsu", round(rs * 1e6, 0).cast("long"))
      .groupBy(col("__m"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("__rsu")).as("__rst"))
      .withColumn("__rsMean",
        col("__rst").cast("double") / col("n_blocks") / 1e6)
      .withColumn("log_rs", round(log(col("__rsMean")), 6))
    val ms = blockSizes.sorted
    val folds = ms.zipWithIndex.map { case (m, i) =>
      sum(when(col("__m") === m.toLong, col("log_rs"))).as(s"__y$i")
    }
    val folded = perM.agg(folds.head, folds.tail: _*)
    val k = ms.size
    val xs = ms.map(m => math.log(m.toDouble))
    val sx = lit(xs.reduce(_ + _))
    val sxx = lit(xs.map(x => x * x).reduce(_ + _))
    val sxy = ms.indices.map(i => lit(xs(i)) * col(s"__y$i")).reduce(_ + _)
    val sy = ms.indices.map(i => col(s"__y$i")).reduce(_ + _)
    val hurst = (lit(k.toDouble) * sxy - sx * sy) /
      (lit(k.toDouble) * sxx - sx * sx)
    val scalar = folded.select(round(hurst, 6).as("hurst"))
    perM.select(col("__m").as("block_m"), col("n_blocks"),
        round(col("__rsMean"), 6).as("rs_mean"), col("log_rs"))
      .crossJoin(broadcast(scalar))
      .orderBy("block_m")
  }

  /** ln(m) regressor literals for [[hurstRS]]'s oracle — computed once
    * here so both engines fold the IDENTICAL doubles (Double.toString
    * round-trips exactly through DuckDB's literal parser). */
  def hurstLogLiterals(blockSizes: Seq[Int]): Seq[String] =
    blockSizes.sorted.map(m => java.lang.Double.toString(math.log(m.toDouble)))

  /** Per-entity burstiness of ACTIVE days: the Fano factor
    * (Var/Mean of daily event counts over days the entity appeared —
    * zeros excluded by construction, so this reads dispersion of
    * activity, not sparsity) plus the raw moments. Fano ≈ 1 is
    * Poisson-like; ≫ 1 is bursty (sessions, spikes); the
    * feature-engineering and anomaly-triage signal next to
    * [[activityProfile]]'s hour rhythm. Counts are integers, so every
    * moment is an exact long sum and the two divisions are engine-
    * identical.
    */
  def burstiness(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("__k"),
        to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__c"))
    val per = daily.groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__c")).cast("long").as("n_events"),
        sum(col("__c") * col("__c")).cast("long").as("__ss"))
    val mean = col("n_events").cast("double") / col("n_days")
    val vr = col("__ss").cast("double") / col("n_days") - mean * mean
    per.select(col(keyCol), col("n_days"), col("n_events"),
      round(mean, 6).as("mean_daily"),
      round(vr, 6).as("var_daily"),
      round(vr / mean, 6).as("fano"))
      .orderBy(keyCol)
  }

  /** Durbin–Watson statistic over the residuals of the daily linear
    * trend — first-order residual autocorrelation AFTER detrending,
    * which [[ljungBox]] on the raw series conflates with the trend
    * itself: DW ≈ 2 independent errors, → 0 positive serial
    * correlation (your trend CI is overconfident), → 4 negative.
    * Reports ρ̂ ≈ 1 − DW/2 alongside.
    *
    * The OLS slope folds from EXACT integer sufficient sums (integer
    * day index × centi-lattice daily totals, decimal cross terms — the
    * trendPerKey contract); each residual is one fixed double tree,
    * committed to the micro lattice so both quadratic-form sums are
    * exact decimals. Calendar-bounded windows only.
    */
  def durbinWatson(df: DataFrame, dateCol: Column,
                   valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__d"))).cast("long"))
    val fit = daily.agg(count(lit(1)).as("__n"),
      sum(col("__t")).as("__st"), sum(col("__y")).as("__sy"),
      sum(dec(col("__t")) * col("__y")).as("__sty"),
      sum(col("__t") * col("__t")).as("__stt"))
    val num = (dec(col("__n")) * col("__sty") -
      dec(col("__st")) * col("__sy")).cast("double")
    val den = (dec(col("__n")) * col("__stt") -
      dec(col("__st")) * col("__st")).cast("double")
    val scalars = fit.select(col("__n"),
      (num / den).as("__b"),
      ((col("__sy").cast("double") - num / den * col("__st")) /
        col("__n")).as("__a"))
    val ord = Window.orderBy(col("__t"))
    val resid = daily.crossJoin(broadcast(scalars))
      .withColumn("__eu", round((col("__y").cast("double") - col("__a") -
        col("__b") * col("__t")) * 1e6, 0).cast("long"))
      .withColumn("__de", col("__eu") - lag(col("__eu"), 1).over(ord))
    val folded = resid.agg(max(col("__n")).as("n_days"),
      sum(dec(col("__eu")) * col("__eu")).as("__see"),
      sum(when(col("__de").isNotNull, dec(col("__de")) * col("__de"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("__sdd"))
    val dw = col("__sdd").cast("double") / col("__see").cast("double")
    folded.select(col("n_days"),
      when(col("__see") > 0, round(dw, 6)).as("dw_stat"),
      when(col("__see") > 0, round(lit(1.0) - dw / 2.0, 6))
        .as("rho_approx"))
  }

  /** Process-capability indices against DECLARED spec limits — the
    * [[controlChart]] companion answering a different question: the
    * chart asks "is the process stable?", Cp/Cpk ask "does a stable
    * process even FIT the spec?" Cp = (USL−LSL)/6σ is the potential
    * (centering ignored), Cpk = min(USL−μ, μ−LSL)/3σ the reality;
    * Cpk ≥ 1.33 is the conventional capable bar (shared literal), and
    * Cp − Cpk > 0 quantifies how much is lost to off-centering alone.
    *
    * Determinism: μ and σ come from exact centi sums (sample variance
    * spelled (Σx² − (Σx)²/n)/(n−1) over exact decimals — never a
    * built-in stddev whose co-moment order differs); indices are one
    * fixed double tree.
    *
    * Plan: one 1-row fold. Nothing else.
    */
  def processCapability(df: DataFrame, valueCol: String, lsl: Double,
                        usl: Double): DataFrame = {
    require(usl > lsl, s"processCapability: USL $usl must exceed LSL $lsl")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = round(col(valueCol) * 100, 0).cast("long")
    val f = df.filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
      .select(x.as("__x"))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s"),
        sum(dec(col("__x")) * col("__x")).as("__s2"))
    val nD = col("n").cast("double")
    val mu = col("__s").cast("double") / nD / 100.0
    val variance = (col("__s2").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nD) /
      (nD - lit(1.0)) / 10000.0
    val sigma = sqrt(variance)
    val cp = (lit(usl) - lit(lsl)) / (lit(6.0) * sigma)
    val cpk = least(lit(usl) - mu, mu - lit(lsl)) / (lit(3.0) * sigma)
    val ok = col("n") >= 2 && variance > 0
    f.select(col("n"),
      round(mu, 6).as("mean"),
      round(when(ok, sigma), 6).as("sigma"),
      round(when(ok, cp), 6).as("cp"),
      round(when(ok, cpk), 6).as("cpk"),
      when(ok, cpk >= lit(1.33)).as("capable"),
      round(when(ok, cp - cpk), 6).as("centering_loss"))
  }

  /** Turning-points randomness test of the daily series — the
    * local-extremum companion of [[runsTest]]'s sign view: an i.i.d.
    * series has E[T] = 2(n−2)/3 strict local maxima+minima with
    * Var = (16n−29)/90 (Kendall); too FEW turning points means trend/
    * persistence, too MANY means alternation (negative autocorrelation
    * — over-correction, odd/even batching). Ties break a peak: only
    * STRICT y₋ < y > y₊ / y₋ > y < y₊ count (documented, and exact on
    * the centi lattice — no float equality ambiguity).
    *
    * Determinism: the count is an exact integer over lattice
    * comparisons; E/Var/z are one fixed double tree.
    *
    * Plan: one corpus aggregation to days, one bounded lag/lead
    * window, one 1-row fold.
    */
  def turningPoints(df: DataFrame, dateCol: Column,
                    valueCol: String): DataFrame = {
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val w = Window.partitionBy().orderBy(col("__d"))
    val flagged = daily
      .withColumn("__p", lag(col("__y"), 1).over(w))
      .withColumn("__x", lead(col("__y"), 1).over(w))
      .withColumn("__tp", when(col("__p").isNotNull &&
        col("__x").isNotNull &&
        ((col("__p") < col("__y") && col("__y") > col("__x")) ||
          (col("__p") > col("__y") && col("__y") < col("__x"))), 1L)
        .otherwise(0L))
    val f = flagged.agg(count(lit(1)).as("n_days"),
      sum(col("__tp")).as("n_turning"))
    val nD = col("n_days").cast("double")
    val e = lit(2.0) * (nD - lit(2.0)) / lit(3.0)
    val v = (lit(16.0) * nD - lit(29.0)) / lit(90.0)
    val ok = col("n_days") >= 4
    f.select(col("n_days"), col("n_turning"),
      round(when(ok, e), 6).as("expected"),
      round(when(ok && v > 0,
        (col("n_turning").cast("double") - e) / sqrt(v)), 6).as("z_stat"))
  }

  /** Maximum drawdown of the daily series per key: the worst decline
    * from any historical daily peak — max over days of
    * (running max − value) — with the trough pinned by total order
    * (largest drawdown first, earliest trough on ties). The "how bad
    * did it get" readout beside [[Drift.cusumDrift]]'s "when did it
    * break": a monitoring dashboard alarms on drawdown_pct before any
    * distributional test fires.
    *
    * Determinism: daily centi sums are exact longs; the running max
    * and every drawdown are integers; only the final /100 display
    * scaling and the percent divide.
    *
    * Plan: one corpus aggregation to (key, day), per-key windows over
    * the calendar-bounded day grain (the PLANS.md bounded-window
    * contract), a per-key 1-row pick. No corpus sort.
    */
  def maxDrawdown(df: DataFrame, keyCol: String, dateCol: Column,
                  valueCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol), dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val run = Window.partitionBy(col(keyCol)).orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("__peak", max(col("__y")).over(run))
      .withColumn("__dd", col("__peak") - col("__y"))
    val pick = Window.partitionBy(col(keyCol))
      .orderBy(col("__dd").desc, col("__d"))
    scored.withColumn("__rn", row_number().over(pick))
      .withColumn("__nd",
        count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__nd").as("n_days"),
        round(col("__peak") / lit(100.0), 2).as("peak_daily"),
        round(col("__y") / lit(100.0), 2).as("trough_daily"),
        round(col("__dd") / lit(100.0), 2).as("max_drawdown"),
        round(when(col("__peak") > 0,
          col("__dd").cast("double") / col("__peak").cast("double")), 6)
          .as("drawdown_pct"),
        col("__d").as("trough_date"))
      .orderBy(keyCol)
  }

  /** Chow structural-break test of the daily trend at a DECLARED date —
    * "did the trend actually change when we think it did?" (pricing
    * change, launch, pipeline migration): fit the linear day-trend
    * separately before and after the break, pool it over the whole
    * span, and test F = ((RSS_p − RSS₁ − RSS₂)/2) / ((RSS₁+RSS₂)/(n−4)).
    * The CONFIRMATORY complement of [[Drift.cusumDrift]]'s exploratory
    * changepoint hunt: CUSUM finds a break date, Chow tests a declared
    * one.
    *
    * Determinism: the day index and centi values are exact integers;
    * each segment's (n, Σt, Σy, Σty, Σt²) folds exactly in decimal via
    * conditional aggregation; every RSS and the F ratio is one fixed
    * double tree (RSS = cyy − cty²/ctt over exact sums).
    *
    * Plan: one corpus aggregation to days, one bounded index window,
    * one 1-row three-segment fold. No corpus sort.
    */
  def chowTest(df: DataFrame, dateCol: Column, valueCol: String,
               breakDate: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__d"))).cast("long"))
      .withColumn("__pre", col("__d") < lit(breakDate).cast("date"))
    def sums(flag: Column, tag: String) = Seq(
      count(when(flag, lit(1))).as(s"n$tag"),
      coalesce(sum(when(flag, col("__t"))), lit(0L)).as(s"st$tag"),
      coalesce(sum(when(flag, col("__y"))), lit(0L)).as(s"sy$tag"),
      coalesce(sum(when(flag, dec(col("__t")) * col("__y"))),
        lit(0L).cast("decimal(38,0)")).as(s"sty$tag"),
      coalesce(sum(when(flag, col("__t") * col("__t"))), lit(0L))
        .as(s"stt$tag"),
      coalesce(sum(when(flag, dec(col("__y")) * col("__y"))),
        lit(0L).cast("decimal(38,0)")).as(s"syy$tag"))
    val allSums = sums(col("__pre"), "1") ++ sums(!col("__pre"), "2") ++
      sums(lit(true), "p")
    val f = daily.agg(allSums.head, allSums.tail: _*)
    def d(c: String) = col(c).cast("double")
    def rss(tag: String): Column = {
      val nD = d(s"n$tag")
      val cyy = d(s"syy$tag") - d(s"sy$tag") * d(s"sy$tag") / nD
      val cty = d(s"sty$tag") - d(s"st$tag") * d(s"sy$tag") / nD
      val ctt = d(s"stt$tag") - d(s"st$tag") * d(s"st$tag") / nD
      cyy - cty * cty / ctt
    }
    def slope(tag: String): Column = {
      val nD = d(s"n$tag")
      val cty = d(s"sty$tag") - d(s"st$tag") * d(s"sy$tag") / nD
      val ctt = d(s"stt$tag") - d(s"st$tag") * d(s"st$tag") / nD
      cty / ctt
    }
    val nD = d("np")
    val rssSum = rss("1") + rss("2")
    val fStat = ((rss("p") - rss("1") - rss("2")) / lit(2.0)) /
      (rssSum / (nD - lit(4.0)))
    val ok = col("n1") >= 3 && col("n2") >= 3 && rssSum > 0
    f.select(col("n1").as("n_pre"), col("n2").as("n_post"),
      round(when(col("n1") >= 3, slope("1") / 100.0), 6).as("slope_pre"),
      round(when(col("n2") >= 3, slope("2") / 100.0), 6).as("slope_post"),
      round(when(ok, fStat), 6).as("f_stat"),
      (col("np") - 4L).as("df2"))
  }

  /** Lognormal MLE fit over a positive value column — the canonical
    * revenue/latency distribution (multiplicative noise): μ̂, σ̂ are the
    * mean/std of ln(x), giving the fitted median e^μ and the fitted
    * p95 e^(μ+1.645σ); the OBSERVED exact p95 rides along so the fit's
    * tail quality is visible in the same row (a lognormal fit on
    * power-law data under-forecasts the tail — that gap IS the
    * readout, next to [[hillTail]]'s heavy-tail alternative).
    *
    * Determinism: each ln(x) commits to the 1e-9 integer lattice
    * before the fold (ln parity rides the committed lattice — the
    * x_char_entropy precedent), so Σ and Σ² are exact; μ/σ/quantiles
    * are fixed double trees with the z₀.₉₅ shared literal. Non-positive
    * values are excluded (ln undefined) and counted.
    *
    * Plan: ONE aggregation pass (the exact observed p95 buffers the
    * column once — the [[q_percentiles]] posture; swap
    * percentile_approx at true scale). No window, no sort.
    */
  def lognormalFit(df: DataFrame, valCol: String): DataFrame = {
    val z95 = 1.6448536269514722 // shared literal (TOST/VdW precedent)
    val pos = col(valCol).isNotNull && col(valCol) > 0.0
    val lnLat = round(log(col(valCol).cast("double")) * 1e9, 0)
      .cast("long")
    val f = df.agg(
      count(when(pos, lit(1))).as("n"),
      count(when(col(valCol).isNotNull && !(col(valCol) > 0.0),
        lit(1))).as("n_nonpositive"),
      coalesce(sum(when(pos, lnLat)), lit(0L)).as("__s"),
      coalesce(sum(when(pos, lnLat.cast("decimal(38,0)") * lnLat)),
        lit(0L).cast("decimal(38,0)")).as("__s2"),
      expr(s"percentile(CASE WHEN `$valCol` > 0.0 THEN " +
        s"CAST(`$valCol` AS DOUBLE) END, 0.95D)").as("__obs95"))
    val nD = col("n").cast("double")
    val mu = col("__s").cast("double") / (nD * 1e9)
    val varL = (col("__s2").cast("double") / nD -
      (col("__s").cast("double") / nD) * (col("__s").cast("double") / nD)
      ) / 1e18
    val sigma = sqrt(varL)
    val ok = col("n") >= 2 && varL > 0
    f.select(col("n"), col("n_nonpositive"),
      round(when(col("n") > 0, mu), 6).as("mu"),
      round(when(ok, sigma), 6).as("sigma"),
      round(when(col("n") > 0, exp(mu)), 6).as("fitted_median"),
      round(when(ok, exp(mu + lit(z95) * sigma)), 6).as("fitted_p95"),
      round(when(col("n") > 0, col("__obs95")), 6).as("observed_p95"))
  }

  /** Negative-binomial method-of-moments fit over per-key event counts
    * — "is per-user activity Poisson, or overdispersed?" (the
    * distributional gate before modeling counts: a Poisson model on
    * NB-dispersed users underestimates heavy users badly). Emits the
    * dispersion index v/m and, when overdispersed, the moment
    * estimators r = m²/(v−m) and p = m/v of the NB(r, p)
    * parameterization; the companion of [[q_burstiness]]'s per-user
    * Fano factor at the population grain.
    *
    * Determinism: counts are exact longs; Σk and Σk² fold exactly in
    * decimal; mean/variance/r/p are one fixed double tree (population
    * variance — ddof 0, the [[Drift.distSummary]] convention).
    *
    * Plan: one key-grain aggregation, one 1-row fold. No window.
    */
  def negbinFit(df: DataFrame, keyCol: String): DataFrame = {
    val perKey = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"))
    val f = perKey.agg(count(lit(1)).as("n_keys"),
      sum(col("__k")).as("__s"),
      sum(col("__k").cast("decimal(38,0)") * col("__k")).as("__s2"))
    val nD = col("n_keys").cast("double")
    val m = col("__s").cast("double") / nD
    val v = col("__s2").cast("double") / nD - m * m
    val over = v > m
    f.select(col("n_keys"),
      round(m, 6).as("mean_count"),
      round(v, 6).as("var_count"),
      round(when(m > 0, v / m), 6).as("dispersion"),
      when(m > 0, over).as("overdispersed"),
      round(when(over, m * m / (v - m)), 6).as("nb_r"),
      round(when(over, m / v), 6).as("nb_p"))
  }

  /** Shewhart X̄/R control chart over weekly subgroups of the daily
    * series — the SPC view of "is this week's revenue OUT OF CONTROL
    * or just noise?": each FULL 7-day week is a subgroup with its mean
    * and range; limits are the classic X̄̄ ± A₂·R̄ and D₃·R̄/D₄·R̄ with
    * the n=7 Shewhart constants (A₂ = 0.419, D₃ = 0.076, D₄ = 1.924 —
    * shared literals). Partial weeks are dropped, not padded (the
    * constants are n-specific).
    *
    * Determinism: weekly means commit to the 1e-6 integer lattice via
    * exact half-up division of centi sums (never a float mean), ranges
    * are exact centi integers, and the grand statistics are fixed
    * trees over exact integer sums; flags compare identically-derived
    * doubles.
    *
    * Plan: one corpus aggregation to days, one to weeks, one 1-row
    * grand fold broadcast back. No window, no sort beyond output.
    */
  /** Attribute (p-) control chart — the PROPORTION complement of the
    * X̄/R [[controlChart]]: per day, the share of rows matching
    * `flagged` against 3σ binomial limits around the overall share,
    * with the limits WIDENING on low-volume days (the variable-n p
    * chart, Montgomery ch.7) instead of a fixed fence that
    * over-alarms quiet days. Emits every day with its limits and an
    * in_control flag — the violations are the finding, the banded
    * series is the audit trail.
    *
    * Determinism: all counts exact longs; p̂, p̄ and the limits are
    * fixed double trees over them (sqrt is IEEE-exact — no
    * transcendental anywhere, so no lattice needed).
    *
    * Plan: one day-grain aggregation + a 1-row overall-share
    * broadcast. No window, no sort beyond the presentation order.
    */
  def pChart(df: DataFrame, dateCol: Column, flagged: Column,
             sigma: Double = 3.0): DataFrame = {
    require(sigma > 0 && sigma <= 6,
      s"pChart: sigma in (0, 6] (got $sigma)")
    val daily = df.groupBy(dateCol.as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(flagged, 1L).otherwise(0L)).as("x"))
    val tot = daily.agg(sum(col("n")).as("__tn"), sum(col("x")).as("__tx"))
    val pbar = col("__tx").cast("double") / col("__tn").cast("double")
    val se = sqrt(pbar * (lit(1.0) - pbar) / col("n").cast("double"))
    val ucl = pbar + lit(sigma) * se
    val lcl = greatest(lit(0.0), pbar - lit(sigma) * se)
    val phat = col("x").cast("double") / col("n").cast("double")
    daily.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), col("x"),
        round(phat, 6).as("p_hat"),
        round(pbar, 6).as("p_bar"),
        round(lcl, 6).as("lcl"),
        round(ucl, 6).as("ucl"),
        (phat >= lcl && phat <= ucl).as("in_control"))
      .orderBy("day")
  }

  def controlChart(df: DataFrame, dateCol: Column,
                   valueCol: String): DataFrame = {
    val (a2, d3, d4) = (0.419, 0.076, 1.924)
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val weekly = daily
      .withColumn("__wk", expr("datediff(__d, DATE '1970-01-01') div 7"))
      .groupBy(col("__wk"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__s"),
        (max(col("__y")) - min(col("__y"))).as("__r"))
      .filter(col("__n") === 7L)
      // exact half-up mean on the 1e-6 dollar lattice:
      // (2·s·10⁴ + n) div (2·n)
      .withColumn("__m6", expr(
        "CAST((CAST(__s AS DECIMAL(38,0)) * 20000 + __n)" +
          " div (CAST(__n AS DECIMAL(38,0)) * 2) AS BIGINT)"))
    val grand = weekly.agg(count(lit(1)).as("__w"),
      sum(col("__m6")).as("__sm"), sum(col("__r")).as("__sr"))
    val wD = col("__w").cast("double")
    val xbb = col("__sm").cast("double") / wD / 1e6
    val rbar = col("__sr").cast("double") / wD / 100.0
    val limits = grand.select(col("__w"),
      xbb.as("__xbb"), rbar.as("__rbar"),
      (xbb + lit(a2) * rbar).as("__ucl"),
      (xbb - lit(a2) * rbar).as("__lcl"),
      (lit(d4) * rbar).as("__uclr"),
      (lit(d3) * rbar).as("__lclr"))
    val m = col("__m6").cast("double") / 1e6
    val r = col("__r").cast("double") / 100.0
    weekly.crossJoin(broadcast(limits))
      .filter(col("__w") >= 2)
      .select(col("__wk").as("week"),
        round(m, 6).as("week_mean"),
        round(r, 6).as("week_range"),
        round(col("__xbb"), 6).as("grand_mean"),
        round(col("__ucl"), 6).as("ucl_mean"),
        round(col("__lcl"), 6).as("lcl_mean"),
        round(col("__uclr"), 6).as("ucl_range"),
        (m > col("__ucl") || m < col("__lcl")).as("mean_out"),
        (r > col("__uclr") || r < col("__lclr")).as("range_out"))
      .orderBy("week")
  }

  /** Gumbel extreme-value fit over weekly block maxima — "how big a
    * revenue day should we expect once a year?": the method-of-L-moments
    * estimator (Hosking 1990) over the weekly maxima of the daily
    * series, with the T=52-block return level. The BLOCK-maxima
    * complement of [[hillTail]]'s peaks-over-threshold exponent: Hill
    * says how heavy the tail is; this says how large the periodic
    * extreme is. L-moments (not ML) because they are closed forms over
    * order statistics — no iteration, no optimizer.
    *
    * Determinism: block maxima are exact centi longs; b₀ and b₁ come
    * from exact integer/decimal sums over the row_number total order
    * ((value, week) tiebreak); λ/scale/location/return-level are one
    * fixed double tree with ln 2, the Euler–Mascheroni constant, and
    * the T-quantile literal shared verbatim with the oracle.
    *
    * Plan: one corpus aggregation to days, one to weeks, one bounded
    * rank window at week grain, one 1-row fold.
    */
  def gumbelMaxima(df: DataFrame, dateCol: Column,
                   valueCol: String): DataFrame = {
    val ln2 = 0.6931471805599453
    val gamma = 0.5772156649015329
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val weekly = daily
      .withColumn("__wk", expr("datediff(__d, DATE '1970-01-01') div 7"))
      .groupBy(col("__wk")).agg(max(col("__y")).as("__m"))
    val ranked = weekly.withColumn("__r", row_number()
      .over(Window.orderBy(col("__m"), col("__wk"))).cast("long"))
    val f = ranked.agg(count(lit(1)).as("n_blocks"),
      sum(col("__m")).as("__sm"),
      sum((col("__r") - 1L).cast("decimal(38,0)") * col("__m"))
        .as("__srm"))
    val nD = col("n_blocks").cast("double")
    val b0 = col("__sm").cast("double") / nD
    val b1 = col("__srm").cast("double") / (nD * (nD - lit(1.0)))
    val scale = (lit(2.0) * b1 - b0) / lit(ln2)
    val loc = b0 - lit(gamma) * scale
    val ret = loc - scale * log(-log(lit(1.0) - lit(1.0) / lit(52.0)))
    val ok = col("n_blocks") >= 2
    f.select(col("n_blocks"),
      round(b0 / 100.0, 6).as("block_mean"),
      round(when(ok, loc / 100.0), 6).as("gumbel_loc"),
      round(when(ok, scale / 100.0), 6).as("gumbel_scale"),
      round(when(ok, ret / 100.0), 6).as("ret_level_52w"))
  }

  /** Haar band-energy decomposition of a daily series — WHICH TIMESCALE
    * carries the variance ("do revenue swings live day-to-day, in
    * 2-day alternation, or in 4-day waves?"): for each level l, the
    * series is cut into blocks of 2^l consecutive observed days, each
    * block's detail is (left-half sum − right-half sum), and the band
    * energy is Σ detail²/4^l with each level's share of the total.
    * The multi-resolution complement of [[autocorr]]: a lag-k
    * correlation says "day t echoes day t−k", a band says "this
    * timescale holds X% of the energy".
    *
    * Determinism: everything is EXACT integer arithmetic until the two
    * display divisions — details are integer differences of centi
    * sums, energies are exact decimal Σd², and the cross-level share
    * uses the common-denominator trick (Σd²·4^(levels−l) over the
    * exact decimal total), so neither engine ever folds doubles.
    * Partial trailing blocks are dropped (cnt = 2^l enforcement), not
    * padded.
    *
    * Plan: one corpus aggregation to the daily table, one bounded
    * row-number window, a `levels`-arm union over the bounded daily
    * frame, one keyed aggregation to ≤Σ 2^−l·days block rows, one
    * bounded fold. No corpus sort.
    */
  def haarEnergy(df: DataFrame, dateCol: Column, valueCol: String,
                 levels: Int = 3): DataFrame = {
    require(levels >= 1 && levels <= 6,
      s"haarEnergy: levels in [1, 6] (got $levels)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
      .withColumn("__t",
        row_number().over(Window.orderBy(col("__d"))).cast("long") - 1L)
    val arms = (1 to levels).map { l =>
      val bs = 1L << l
      daily.select(lit(l).as("level"),
        expr(s"__t div $bs").as("__blk"),
        when(expr(s"pmod(__t div ${bs / 2}, 2)") === 0L, col("__y"))
          .otherwise(-col("__y")).as("__s"),
        lit(bs).as("__sz"))
    }.reduce(_ unionByName _)
    val blocks = arms.groupBy(col("level"), col("__blk"))
      .agg(sum(col("__s")).as("__dtl"), count(lit(1)).as("__cnt"),
        max(col("__sz")).as("__sz"))
      .filter(col("__cnt") === col("__sz"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val perLevel = blocks.groupBy(col("level"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("__dtl")) * col("__dtl")).as("__e"))
      // common-denominator scaling: __e · 4^(levels − l), exact decimal
      .withColumn("__sc", col("__e") *
        pow(lit(4.0), lit(levels).cast("double") -
          col("level").cast("double")).cast("decimal(12,0)"))
    val all = Window.partitionBy()
    perLevel.select(col("level"), col("n_blocks"),
        round(col("__e").cast("double") /
          pow(lit(4.0), col("level").cast("double")), 6).as("band_energy"),
        round(col("__sc").cast("double") /
          sum(col("__sc")).over(all).cast("double"), 6).as("band_share"))
      .orderBy("level")
  }

  /** Paired sign test of a daily series against itself `lagK` positions
    * earlier — "is this week's daily revenue SYSTEMATICALLY above last
    * week's?" with an EXACT binomial p-value, no normal approximation
    * and no distributional assumption beyond symmetry under the null
    * (the nonparametric sibling of a paired t-test that survives heavy
    * tails and outliers unmoved). Ties are dropped, reported, and the
    * two-sided p is 2·P(X ≤ min(pos, neg)) for X ~ Bin(n, ½), capped
    * at 1.
    *
    * Determinism: daily values ride the centi lattice so comparisons
    * are exact; the binomial tail is an INDEX-ORDERED recurrence
    * pmf_i = pmf_{i−1}·(n−i+1)/i folded left-to-right from
    * pmf₀ = 0.5ⁿ (exact dyadic) — both engines replay the identical
    * IEEE chain, the oracle as a recursive CTE, Spark as a
    * higher-order `aggregate` over `sequence(1, n)` (n is
    * calendar-bounded, so the per-row array is bounded too).
    *
    * Plan: one corpus aggregation to the daily table, one bounded lag
    * window, one 1-row fold carrying the bounded sequence. No corpus
    * sort, no driver loop.
    */
  def signTest(df: DataFrame, dateCol: Column, valueCol: String,
               lagK: Int = 7): DataFrame = {
    require(lagK >= 1 && lagK <= 400,
      s"signTest: lagK in [1, 400] (got $lagK)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val w = Window.partitionBy().orderBy(col("__d"))
    val paired = daily
      .withColumn("__y0", lag(col("__y"), lagK).over(w))
      .filter(col("__y0").isNotNull)
    val f = paired.agg(count(lit(1)).as("n_obs"),
      sum(when(col("__y") > col("__y0"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("__y") < col("__y0"), 1L).otherwise(0L)).as("n_neg"),
      sum(when(col("__y") === col("__y0"), 1L).otherwise(0L)).as("n_ties"))
    val n = col("n_pos") + col("n_neg")
    val nD = n.cast("double")
    val mD = least(col("n_pos"), col("n_neg")).cast("double")
    val p0 = pow(lit(0.5), nD)
    val cum = aggregate(
      sequence(lit(1L), greatest(n, lit(1L))),
      struct(p0.as("pmf"), p0.as("cum")),
      (acc, i) => {
        val iD = i.cast("double")
        val pmf2 = (acc.getField("pmf") * (nD - iD + lit(1.0))) / iD
        struct(pmf2.as("pmf"),
          (acc.getField("cum") +
            when(iD <= mD, pmf2).otherwise(lit(0.0))).as("cum"))
      },
      acc => acc.getField("cum"))
    f.select(col("n_obs"), col("n_pos"), col("n_neg"), col("n_ties"),
      round(when(n >= 1, least(lit(1.0), lit(2.0) * cum)), 6)
        .as("sign_p"))
  }

  /** White heteroskedasticity test on the daily revenue-vs-volume
    * regression — "does the noise grow with volume?" (if yes, the OLS
    * trend's plain standard errors and every CI built on them are
    * wrong, and a weighted fit or robust errors are needed — the
    * variance-side companion of [[durbinWatson]]'s correlation-side
    * check): squared residuals regressed on (x, x²), LM = n·R² of that
    * auxiliary fit against the χ²(2) 5% critical value 5.991464547107979
    * (shared literal).
    *
    * Determinism: residuals commit to the WHOLE-DOLLAR integer
    * lattice (coarser than [[durbinWatson]]'s 1e-6 because the
    * auxiliary fit needs Σ(e²)² — finer lattices overflow decimal(38)
    * at bench scale);
    * all auxiliary sufficient sums are exact decimal folds; the
    * two-regressor Cramer solve and R² are one fixed double tree.
    *
    * Plan: one corpus aggregation to days, two 1-row folds with a
    * broadcast between. No window over the corpus.
    */
  def whiteTest(df: DataFrame, dateCol: Column,
                valueCol: String): DataFrame = {
    val chi2crit = 5.991464547107979
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"),
        count(lit(1)).as("__x"))
    val fit = daily.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(dec(col("__x")) * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val num = (dec(col("__n")) * col("__sxy") -
      dec(col("__sx")) * col("__sy")).cast("double")
    val den = (dec(col("__n")) * col("__sxx") -
      dec(col("__sx")) * col("__sx")).cast("double")
    val scalars = fit.select(
      (num / den).as("__b"),
      ((col("__sy").cast("double") - num / den * col("__sx")) /
        col("__n")).as("__a"))
    val resid = daily.crossJoin(broadcast(scalars))
      .withColumn("__e2", round((col("__y").cast("double") - col("__a") -
        col("__b") * col("__x")) / 100.0, 0).cast("long"))
      .withColumn("__z", dec(col("__e2")) * col("__e2"))
    val aux = resid.agg(count(lit(1)).as("n_days"),
      sum(col("__x")).as("__ax"), sum(col("__x") * col("__x")).as("__ax2"),
      sum(dec(col("__x")) * col("__x") * col("__x")).as("__ax3"),
      sum(dec(col("__x")) * col("__x") * col("__x") * col("__x"))
        .as("__ax4"),
      sum(col("__z")).as("__az"),
      sum(col("__z") * col("__x")).as("__az1"),
      sum(col("__z") * col("__x") * col("__x")).as("__az2"),
      sum(col("__z") * col("__z")).as("__azz"))
    def d(c: String) = col(c).cast("double")
    val nD = d("n_days")
    val czz = d("__azz") - d("__az") * d("__az") / nD
    val cz1 = d("__az1") - d("__az") * d("__ax") / nD
    val cz2 = d("__az2") - d("__az") * d("__ax2") / nD
    val c11 = d("__ax2") - d("__ax") * d("__ax") / nD
    val c12 = d("__ax3") - d("__ax") * d("__ax2") / nD
    val c22 = d("__ax4") - d("__ax2") * d("__ax2") / nD
    val det = c11 * c22 - c12 * c12
    val b1 = (cz1 * c22 - cz2 * c12) / det
    val b2 = (cz2 * c11 - cz1 * c12) / det
    val r2 = (b1 * cz1 + b2 * cz2) / czz
    val ok = col("n_days") >= 4 && det > 0 && czz > 0
    aux.select(col("n_days"),
      round(when(ok, r2), 6).as("r2_aux"),
      round(when(ok, nD * r2), 6).as("lm_stat"),
      when(ok, nD * r2 > lit(chi2crit)).as("heteroskedastic"))
  }

  /** Engle–Granger cointegration screen between the daily revenue and
    * daily order-volume series — "do these two series share a common
    * stochastic trend, or does their spread wander?" (the gate before
    * trusting a ratio/spread feature like revenue-per-order to be
    * mean-reverting). Step 1: OLS revenue on volume from exact lattice
    * sufficient sums; step 2: residuals committed to the 1e-6 integer
    * lattice (the [[durbinWatson]] trick); step 3: the ADF(0)
    * no-constant regression Δe_t = γ·e_{t−1} with its t-statistic from
    * exact decimal folds — γ near 0 means the spread drifts (no
    * cointegration), a strongly negative t means it snaps back.
    * `cointegrated` compares against the MacKinnon asymptotic 5%
    * critical value −3.37 for one fitted relation (shared literal —
    * a SCREEN, not a small-sample test).
    *
    * Plan: one corpus aggregation to the calendar-bounded daily table,
    * two bounded lag windows, three 1-row folds. No corpus sort.
    */
  def cointegration(df: DataFrame, dateCol: Column,
                    valueCol: String): DataFrame = {
    val crit = -3.37
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"),
        count(lit(1)).as("__x"))
    val fit = daily.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(dec(col("__x")) * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val num = (dec(col("__n")) * col("__sxy") -
      dec(col("__sx")) * col("__sy")).cast("double")
    val den = (dec(col("__n")) * col("__sxx") -
      dec(col("__sx")) * col("__sx")).cast("double")
    val scalars = fit.select(col("__n"),
      (num / den).as("__b"),
      ((col("__sy").cast("double") - num / den * col("__sx")) /
        col("__n")).as("__a"))
    val ord = Window.orderBy(col("__d"))
    val resid = daily.crossJoin(broadcast(scalars))
      .withColumn("__eu", round((col("__y").cast("double") - col("__a") -
        col("__b") * col("__x")) * 1e6, 0).cast("long"))
      .withColumn("__e1", lag(col("__eu"), 1).over(ord))
      .withColumn("__de", col("__eu") - col("__e1"))
    val folded = resid.agg(max(col("__n")).as("n_days"),
      max(col("__b")).as("__bb"),
      count(col("__e1")).as("__np"),
      sum(when(col("__e1").isNotNull, dec(col("__e1")) * col("__e1"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("__s1"),
      sum(when(col("__e1").isNotNull, dec(col("__e1")) * col("__de"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("__s2"),
      sum(when(col("__e1").isNotNull, dec(col("__de")) * col("__de"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("__s3"))
    def d(c: String) = col(c).cast("double")
    val gamma = d("__s2") / d("__s1")
    val rss = d("__s3") - d("__s2") * d("__s2") / d("__s1")
    val se = sqrt((rss / (d("__np") - lit(1.0))) / d("__s1"))
    val ok = col("__s1") > 0 && col("__np") >= 3
    folded.select(col("n_days"), col("__np").as("n_pairs"),
      round(col("__bb"), 6).as("beta"),
      round(when(ok, gamma), 6).as("gamma"),
      round(when(ok && rss > 0, gamma / se), 6).as("adf_t"),
      when(ok && rss > 0, gamma / se < lit(crit)).as("cointegrated"))
  }

  /** KPSS level-stationarity test over the daily series — the
    * confirmatory COMPLEMENT of [[adfTest]]: ADF's null is a unit root
    * (reject ⇒ stationary), KPSS's null is stationarity (reject ⇒
    * unit root), so the pair classifies a series four ways where either
    * alone leaves "failed to reject" ambiguous. Statistic η =
    * n⁻²ΣS_t²/λ̂ with S_t the partial sums of mean-deviations and λ̂
    * the Bartlett-kernel long-run variance at the declared weekly lag
    * window q=7 (w_l = 1 − l/8).
    *
    * Determinism: daily values ride the centi lattice; deviations are
    * n-SCALED (E_t = n·y_t − Σy, an exact integer — the hurst device,
    * so the mean never appears as a float), partial sums and all eight
    * autocovariance terms are exact decimal folds, and η is one fixed
    * double tree in which the n-scaling cancels algebraically:
    * η = ΣS²_scaled / (n · (g₀ + 2Σw_l·g_l)). Decimal bound:
    * |E_t| ≤ n·max|dev|·100 and ΣS² ≤ n·(n·maxE)² must stay under
    * 10³⁸ — at a daily grain that holds through ~10¹² of daily-summed
    * value units; past that, pre-scale the value column.
    *
    * Plan: one corpus-sized keyed aggregation to the calendar-bounded
    * daily table, one 1-row total broadcast, ordered windows over the
    * bounded daily frame (the [[pacf]] class), one fold.
    */
  def kpss(df: DataFrame, dateCol: Column, valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val tot = daily.agg(count(lit(1)).as("__n"),
      sum(col("__y")).as("__sy"))
    val ord = Window.orderBy(col("__d"))
    val cum = ord.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val dev = daily.crossJoin(broadcast(tot))
      .withColumn("__e", dec(col("__n")) * col("__y") - col("__sy"))
      .withColumn("__s", sum(col("__e")).over(cum))
    val lagged = (1 to 7).foldLeft(dev)((d, l) =>
      d.withColumn(s"__e$l", lag(col("__e"), l).over(ord)))
    val aggs = Seq(max(col("__n")).as("n_days"),
      sum(col("__s") * col("__s")).as("__ss2"),
      sum(col("__e") * col("__e")).as("__g0")) ++
      (1 to 7).map(l => coalesce(sum(col("__e") * col(s"__e$l")),
        lit(0L).cast("decimal(38,0)")).as(s"__g$l"))
    val f = lagged.agg(aggs.head, aggs.tail: _*)
    val nD = col("n_days").cast("double")
    def g(l: Int) = col(s"__g$l").cast("double")
    val lrvScaled = g(0) + lit(2.0) *
      (1 to 7).map(l => lit(1.0 - l / 8.0) * g(l)).reduce(_ + _)
    val eta = col("__ss2").cast("double") /
      (nD * when(lrvScaled > 0, lrvScaled))
    val ok = col("n_days") >= 16L && lrvScaled > 0
    f.select(col("n_days"),
      round(when(ok, eta), 6).as("kpss_stat"),
      // long-run variance back in value units²: /n³ de-scales the two
      // E factors and the 1/n of gamma; /1e4 the centi lattice
      round(when(ok, lrvScaled / (nD * nD * nD) / 1e4), 6)
        .as("long_run_var"),
      when(ok, eta < 0.463).as("stationary_at_05"),
      lit(0.463).as("crit_05"))
  }

  /** Augmented Dickey–Fuller test (constant + one augmentation lag)
    * over the daily series — the unit-root half of the [[kpss]] pair:
    * Δy_t = α + ρ·y_{t−1} + φ·Δy_{t−1} + ε, reject ρ=0 (t below the
    * 5% constant-case critical −2.863) ⇒ the level series is
    * stationary, not a random walk — the "is this metric mean-
    * reverting or drifting" gate before any forecast-feature choice
    * ([[cointegration]] runs the same regression shape on residuals).
    *
    * Determinism: the daily series rides the centi lattice; all ten
    * OLS moment sums are exact decimal folds over the lag-completed
    * rows; the 3-regressor solve reduces to a 2×2 Cramer system on
    * CENTERED moments (exact decimals minus one rational each), and
    * ρ, φ, RSS, se(ρ), t are one fixed double tree — the lattice scale
    * cancels in t exactly (ρ and se scale together).
    *
    * Plan: the [[kpss]] class — keyed daily aggregation, bounded
    * ordered lag windows, one fold, one output row.
    */
  def adfTest(df: DataFrame, dateCol: Column,
              valueCol: String): DataFrame = {
    val crit = -2.863
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val ord = Window.orderBy(col("__d"))
    val rows = daily
      .withColumn("__y1", lag(col("__y"), 1).over(ord))
      .withColumn("__y2", lag(col("__y"), 2).over(ord))
      .withColumn("__dy", col("__y") - col("__y1"))
      .withColumn("__x2", col("__y1") - col("__y2"))
      .filter(col("__y2").isNotNull)
      .select(col("__y1").as("__x1"), col("__x2"), col("__dy"))
    val f = rows.agg(count(lit(1)).as("n_obs"),
      sum(dec(col("__x1"))).as("__s1"),
      sum(dec(col("__x2"))).as("__s2"),
      sum(dec(col("__dy"))).as("__sy"),
      sum(dec(col("__x1")) * col("__x1")).as("__s11"),
      sum(dec(col("__x1")) * col("__x2")).as("__s12"),
      sum(dec(col("__x2")) * col("__x2")).as("__s22"),
      sum(dec(col("__x1")) * col("__dy")).as("__s1y"),
      sum(dec(col("__x2")) * col("__dy")).as("__s2y"),
      sum(dec(col("__dy")) * col("__dy")).as("__syy"))
    val nD = col("n_obs").cast("double")
    def d(c: String) = col(c).cast("double")
    val c11 = d("__s11") - d("__s1") * d("__s1") / nD
    val c12 = d("__s12") - d("__s1") * d("__s2") / nD
    val c22 = d("__s22") - d("__s2") * d("__s2") / nD
    val c1y = d("__s1y") - d("__s1") * d("__sy") / nD
    val c2y = d("__s2y") - d("__s2") * d("__sy") / nD
    val cyy = d("__syy") - d("__sy") * d("__sy") / nD
    val det = c11 * c22 - c12 * c12
    val detG = when(det > 0, det)
    val rho = (c1y * c22 - c2y * c12) / detG
    val phi = (c2y * c11 - c1y * c12) / detG
    val rss = cyy - rho * c1y - phi * c2y
    val s2 = rss / when(nD > 3.0, nD - 3.0)
    val seRho = sqrt(when(s2 > 0, s2) * c22 / detG)
    val ok = col("n_obs") >= 8L && det > 0 && rss > 0
    f.select(col("n_obs"),
      round(when(ok, rho), 6).as("rho"),
      round(when(ok, phi), 6).as("phi_lag1"),
      round(when(ok, rho / seRho), 6).as("adf_t"),
      when(ok, rho / seRho < lit(crit)).as("rejects_unit_root_05"),
      lit(crit).as("crit_05"))
  }

  /** Weighted (lower) median per group — the "median dollar/unit" the
    * plain median misquotes whenever weights are skewed: each value
    * counts by its integral weight (quantities, survivor weights,
    * importance counts), and the elected value is the first whose
    * cumulative weight reaches half the total — an EXACT integer test
    * (2·cumw ≥ total), so no rational ever meets a float comparison.
    * Weights must be integral (rounded on entry, fail-visible via the
    * exact mirror); non-positive weights are dropped symmetrically.
    *
    * Plan: one keyed (group, value) aggregation + per-group cumulative
    * windows at the distinct-value grain + one keyed min-election.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    val pv = df
      .filter(col(weightCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).cast("double")
        .as("__v"))
      .agg(sum(round(col(weightCol), 0).cast("long")).as("__w"))
      .filter(col("__w") > 0)
    val wg = Window.partitionBy(col("__g"))
    val cum = wg.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pv
      .withColumn("__cw", sum(col("__w")).over(cum))
      .withColumn("__tot", sum(col("__w")).over(wg))
      .filter(col("__cw") * 2L >= col("__tot"))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__tot")).as("total_weight"),
        round(min(col("__v")), 6).as("weighted_median"))
      .orderBy(groupCol)
  }

  /** [[weightedMedian]] over [[Drift.latticeBin]]-coarsened values —
    * the 100 TB form: the per-group cumulative-weight election runs at
    * the bin grain (≤ `bins` rows per group partition) on ONE value
    * grid shared by every group (bounds from the whole corpus, so
    * groups stay comparable), and the elected value is the bin's
    * integer-lattice representative — within one bin width of the
    * exact weighted median (StatsSpec pins it). total_weight stays
    * exact. Same single-corpus-pass count-grain plan as
    * [[kruskalWallisBinned]].
    */
  def weightedMedianBinned(df: DataFrame, groupCol: String,
                           valueCol: String, weightCol: String,
                           bins: Int = 1000): DataFrame = {
    val v = col(valueCol).cast("double")
    // ONE corpus pass to (group, lattice value, weight); bounds and
    // binning on that distinct frame. The bin grid is GLOBAL (bounds
    // over all groups) so groups stay comparable; per-(group, value)
    // partial weights re-sum at (group, representative) and the exact
    // election runs unchanged via weightedMedian.
    val perGV = df
      .filter(col(weightCol).isNotNull && v.isNotNull && !isnan(v))
      .groupBy(col(groupCol).as("__g0"),
        round(v * 100, 0).cast("long").as("__v"))
      .agg(sum(round(col(weightCol), 0).cast("long")).as("__w"))
    val bounds = perGV.agg(min(col("__v")).as("__lo"),
      max(col("__v")).as("__hi"))
    val binned = perGV.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        expr(s"((__v - __lo) * $bins) div (__hi - __lo + 1)"))
      .withColumn("__rv",
        expr(s"__lo + (__bin * (__hi - __lo + 1)) div $bins"))
    weightedMedian(binned.select(col("__g0").as(groupCol),
      (col("__rv").cast("double") / 100.0).as("__bv"), col("__w")),
      groupCol, "__bv", "__w")
  }

  /** Cliff's delta between two groups — the ordinal effect size the
    * rank tests deliberately don't report: δ = (#(a>b) − #(a<b))/(n₁n₂)
    * ∈ [−1, 1], with the common-language P(A>B) + ½P(=) alongside.
    * [[kruskalWallis]] says WHETHER distributions differ; δ says HOW
    * MUCH, robustly (no variance, no normality).
    *
    * Never the n₁·n₂ pair join: both dominance counts fold from the
    * DISTINCT-VALUE table (per-value counts × the other side's strict
    * cumulative) — exact longs end to end, one division at the close.
    * The ordered window runs at the distinct-value grain (the
    * q_ks_binned documented class — pre-bin a truly continuous axis
    * first, as q_spearman's scaladoc directs).
    */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "cliffsDelta: groups must differ")
    val perVal = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L))
        .as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    cdFold(perVal)
  }

  /** Cliff's-delta close over a per-distinct-value two-side count
    * frame — shared verbatim by [[cliffsDelta]] (distinct-value grain)
    * and [[cliffsDeltaBinned]] (bin grain). */
  private def cdFold(perVal: DataFrame): DataFrame = {
    val ord = Window.orderBy(col("__v"))
    val below = ord.rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy()
    val folded = perVal
      .withColumn("__bBelow", coalesce(sum(col("__cb")).over(below),
        lit(0L)))
      .withColumn("__bTot", sum(col("__cb")).over(whole))
      .withColumn("__bAbove",
        col("__bTot") - col("__bBelow") - col("__cb"))
      .agg(sum(col("__ca")).as("n_a"),
        max(col("__bTot")).as("n_b"),
        sum(col("__ca") * col("__bBelow")).as("__gt"),
        sum(col("__ca") * col("__bAbove")).as("__lt"),
        sum(col("__ca") * col("__cb")).as("__eq"))
    val pairs = (col("n_a") * col("n_b")).cast("double")
    folded.select(col("n_a"), col("n_b"),
      col("__gt").as("n_greater"), col("__lt").as("n_less"),
      col("__eq").as("n_ties"),
      round((col("__gt") - col("__lt")).cast("double") / pairs, 6)
        .as("cliffs_delta"),
      round((col("__gt").cast("double") + lit(0.5) * col("__eq")) / pairs,
        6).as("p_superior"))
  }

  /** [[cliffsDelta]] over [[Drift.latticeBin]]-coarsened values — the
    * 100 TB form: dominance counts fold from ≤ `bins` ECDF points;
    * within-bin cross pairs migrate into n_ties (they can no longer be
    * ordered), which biases δ toward 0 by at most the cross-pair mass
    * of one bin — the conservative direction for an effect size
    * (StatsSpec pins the bound). Order-only statistic, so the
    * coarsened axis is the bin id. Same single-corpus-pass count-grain
    * plan as [[kruskalWallisBinned]].
    */
  def cliffsDeltaBinned(df: DataFrame, groupCol: String, valueCol: String,
                        groupA: String, groupB: String,
                        bins: Int = 1000): DataFrame = {
    require(groupA != groupB, "cliffsDeltaBinned: groups must differ")
    val v = col(valueCol).cast("double")
    val perVal = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        v.isNotNull && !isnan(v))
      .groupBy(round(v * 100, 0).cast("long").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L))
        .as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    cdFold(Drift.binCounts(perVal, bins, Seq("__ca", "__cb"))
      .select(col("__bin").cast("double").as("__v"), col("__ca"),
        col("__cb")))
  }

  /** Friedman test over day-blocks: rank the DECLARED treatments within
    * every day (daily centi-lattice totals — exact 2×-midranks from
    * rank + tie counts), then χ²_F = 3/(nk(k+1))·ΣR₂ⱼ² − 3n(k+1) (the
    * 2×-rank algebra folding the usual 12/…/4) — the repeated-measures
    * complement to [[kruskalWallis]]: day blocks absorb the day-to-day
    * level shifts KW would read as group differences. Kendall's W
    * = χ²/(n(k−1)) reports agreement strength. Only COMPLETE blocks
    * (all k treatments present that day) enter, symmetrically on both
    * engines; the roster fails loud on drift.
    *
    * Plan: one keyed daily aggregation, per-day rank windows (k-row
    * partitions), one CASE-folded row. Calendar-bounded throughout.
    */
  def friedman(df: DataFrame, dateCol: Column, groupCol: String,
               valueCol: String, groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"friedman: 2..32 distinct declared groups (got $groups)")
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(dateCol.as("__d"), col(groupCol).as("__g"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__x"))
    checkRoster(base.select("__g"), "friedman", groups)
    val k = groups.size
    val wDay = Window.partitionBy(col("__d"))
    val complete = base
      .withColumn("__cnt", count(lit(1)).over(wDay))
      .filter(col("__cnt") === k)
      .withColumn("__r2",
        lit(2L) * (rank().over(wDay.orderBy(col("__x"))) - 1L) +
          count(lit(1)).over(Window.partitionBy(col("__d"), col("__x"))) +
          1L)
    val sorted = groups.sorted
    val aggs = sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, col("__r2")).otherwise(0L)).as(s"__s$i")
    } :+ (count(lit(1)) / k).cast("long").as("n_days")
    val folded = complete.agg(aggs.head, aggs.tail: _*)
    val nD = col("n_days").cast("double")
    val kD = k.toDouble
    val s2 = sorted.indices
      .map(i => col(s"__s$i").cast("double") * col(s"__s$i"))
      .reduce(_ + _)
    val chi2 = lit(3.0) / (nD * kD * (kD + 1.0)) * s2 -
      lit(3.0) * nD * (kD + 1.0)
    folded.select((Seq(col("n_days")) ++
      sorted.zipWithIndex.map { case (g, i) =>
        col(s"__s$i").as(s"ranksum2_$g") } ++ Seq(
      round(chi2, 6).as("chi2_f"),
      lit(k - 1).as("df"),
      round(chi2 / (nD * (kD - 1.0)), 6).as("kendalls_w"))): _*)
  }

  /** Jonckheere–Terpstra trend test across DECLARED-ORDER groups — the
    * ordered-alternative k-sample test [[kruskalWallis]] deliberately
    * isn't: KW asks "do the distributions differ AT ALL?"; JT asks "do
    * values increase ALONG the declared order?" (view → click → signup
    * → purchase), which concentrates the power on the monotone
    * alternative. JT = Σ_{i<j} U_ij over ordered pairs, each U the
    * Mann–Whitney count with the ½-tie convention, so 2·JT is an exact
    * integer; the normal approximation uses the tie-corrected variance
    * (Hollander & Wolfe 6.19) — every Σt(t−1)(2t+5)-style term is an
    * exact integer fold at the distinct-value grain.
    *
    * Plan: ONE corpus pass to per-(distinct value, group) counts (the
    * [[kruskalWallis]] count-grain posture — 2U folds from
    * Σ_v c_j(v)·below_i(v), never a pair join), k cumulative windows
    * over the distinct frame, one fold, one fixed double tree.
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: String, valueCol: String,
                         ordered: Seq[String]): DataFrame = {
    require(ordered.size >= 3 && ordered.size <= 8 &&
      ordered.distinct == ordered,
      s"jonckheereTerpstra: 3..8 distinct ORDERED groups (got $ordered)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isin(ordered: _*) && col("__v").isNotNull)
    checkRoster(base, "jonckheereTerpstra", ordered)
    val k = ordered.size
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perValAggs = ordered.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    val perVal = base.groupBy(col("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = ordered.indices.foldLeft(perVal)((d, i) =>
      d.withColumn(s"__b$i",
        coalesce(sum(col(s"__c$i")).over(w), lit(0L))))
    val nv = ordered.indices.map(i => col(s"__c$i")).reduce(_ + _)
    // 2U_ij per value: 2·c_j·below_i + c_i·c_j (strict wins ×2 + ties)
    val pairTerm = (for { i <- 0 until k; j <- (i + 1) until k } yield
      dec(col(s"__c$j")) * col(s"__b$i") * 2L +
        dec(col(s"__c$i")) * col(s"__c$j")).reduce(_ + _)
    val aggs = ordered.indices.map(i =>
      coalesce(sum(col(s"__c$i")), lit(0L)).as(s"__n$i")) ++ Seq(
      coalesce(sum(pairTerm), lit(0L).cast("decimal(38,0)")).as("__u2"),
      coalesce(sum(dec(nv) * (nv - 1L) * (nv * 2L + 5L)), lit(0L)
        .cast("decimal(38,0)")).as("__t1"),
      coalesce(sum(dec(nv) * (nv - 1L) * (nv - 2L)), lit(0L)
        .cast("decimal(38,0)")).as("__t2"),
      coalesce(sum(dec(nv) * (nv - 1L)), lit(0L).cast("decimal(38,0)"))
        .as("__t3"))
    val folded = withCum.agg(aggs.head, aggs.tail: _*)
    def nI(i: Int) = col(s"__n$i")
    val nTot = ordered.indices.map(nI).reduce(_ + _)
    val nD = nTot.cast("double")
    // group-side tie-style sums (exact integer chains in declared order)
    val g1 = ordered.indices.map(i =>
      dec(nI(i)) * (nI(i) - 1L) * (nI(i) * 2L + 5L)).reduce(_ + _)
    val g2 = ordered.indices.map(i =>
      dec(nI(i)) * (nI(i) - 1L) * (nI(i) - 2L)).reduce(_ + _)
    val g3 = ordered.indices.map(i =>
      dec(nI(i)) * (nI(i) - 1L)).reduce(_ + _)
    val sumSq = ordered.indices.map(i => dec(nI(i)) * nI(i)).reduce(_ + _)
    val eJt = (nD * nD - sumSq.cast("double")) / 4.0
    val varJt =
      (nD * (nD - 1.0) * (nD * 2.0 + 5.0) - col("__t1").cast("double")
        - g1.cast("double")) / 72.0 +
      col("__t2").cast("double") * g2.cast("double") /
        (lit(36.0) * nD * (nD - 1.0) * (nD - 2.0)) +
      col("__t3").cast("double") * g3.cast("double") /
        (lit(8.0) * nD * (nD - 1.0))
    val jt = col("__u2").cast("double") / 2.0
    val ok = varJt > 0
    folded.select((Seq(nTot.cast("long").as("n")) ++
      ordered.zipWithIndex.map { case (g, i) => nI(i).as(s"n_$g") } ++ Seq(
      round(jt, 6).as("jt_stat"),
      round(eJt, 6).as("e_jt"),
      round(when(ok, varJt), 6).as("var_jt"),
      round(when(ok, (jt - eJt) / sqrt(varJt)), 6).as("z"))): _*)
  }

  /** Ansari–Bradley dispersion test between two groups — the rank test
    * for SPREAD that completes the nonparametric matrix (location:
    * [[mannWhitney]]/[[brunnerMunzel]]/[[moodMedian]]; omnibus:
    * [[graft.ops.Drift.ksTest]]/cvm/AD; dispersion: this). Scores fold
    * from both ends inward, a = min(R, N+1−R), so a sample concentrated
    * near the pooled center collects LARGE scores — AB above its mean
    * means group A is TIGHTER than B. Under ties the conditional
    * mean/variance come from the realized midrank scores (the standard
    * treatment), so both moments are exact-integer folds:
    * 2×-scores a₂ = min(r₂, 2(N+1)−r₂) are integers, AB₂ = Σ cₐ·a₂,
    * and Var uses N·Σl·a₂² − (Σl·a₂)² — one fixed double tree.
    *
    * Plan: one corpus pass to per-value side counts, the bounded
    * distinct-grain windows, one fold (the [[mannWhitney]] class; bin
    * first on a data-sized axis, same contract).
    */
  def ansariBradley(df: DataFrame, groupCol: String, valueCol: String,
                    groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB,
      s"ansariBradley: groups must differ (got '$groupA' twice)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isin(groupA, groupB) && col("__v").isNotNull)
    val perVal = base.groupBy(col("__v")).agg(
      sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
      sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__cb"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val l = col("__ca") + col("__cb")
    val below = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perVal
      .withColumn("__r2",
        lit(2L) * coalesce(sum(l).over(below), lit(0L)) + l + 1L)
      .withColumn("__N",
        sum(l).over(Window.partitionBy()))
      .withColumn("__a2",
        least(col("__r2"), (col("__N") + 1L) * 2L - col("__r2")))
    val f = ranked.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__cb")), lit(0L)).as("n_b"),
      coalesce(sum(dec(col("__ca")) * col("__a2")),
        lit(0L).cast("decimal(38,0)")).as("__ab2"),
      coalesce(sum(dec(l) * col("__a2")),
        lit(0L).cast("decimal(38,0)")).as("__s1"),
      coalesce(sum(dec(l) * col("__a2") * col("__a2")),
        lit(0L).cast("decimal(38,0)")).as("__s2"))
    val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    val e2 = naD * col("__s1").cast("double") / nD
    val var2 = naD * nbD *
      (nD * col("__s2").cast("double") -
        col("__s1").cast("double") * col("__s1").cast("double")) /
      (nD * nD * (nD - 1.0))
    val ok = col("n_a") > 0 && col("n_b") > 0
    f.select(col("n_a"), col("n_b"),
      round(when(ok, col("__ab2").cast("double") / 2.0), 6).as("ab_stat"),
      round(when(ok, e2 / 2.0), 6).as("e_ab"),
      round(when(ok && var2 > 0,
        (col("__ab2").cast("double") - e2) / sqrt(var2)), 6).as("z"))
  }

  /** Mood's median test across DECLARED groups — the coarsest, most
    * outlier-proof of the k-sample location tests: only "above the
    * pooled median or not" enters, so a single corrupted extreme value
    * cannot move it at all (where even [[kruskalWallis]]'s ranks shift
    * by one). Low power when distributions are clean — the point is
    * the robustness rung below KW on the same ladder.
    *
    * The pooled median is the exact LOWER median elected on integers
    * (first distinct value whose doubled cumulative count reaches N —
    * the [[weightedMedian]] election, no float quantile); values ≤
    * median count "below" (the classic convention, stated so both
    * engines and any reimplementation agree). χ² = Σ 2k cells
    * (O−E)²/E with E from exact integer margins — one fixed tree.
    *
    * Plan: one corpus pass to per-(value, group) counts, the bounded
    * ordered election window, a 1-row median broadcast, one fold.
    */
  def moodMedian(df: DataFrame, groupCol: String, valueCol: String,
                 groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"moodMedian: 2..32 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "moodMedian", groups)
    val sorted = groups.sorted
    val perValAggs = sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    val perVal = base.groupBy(col("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    val nv = sorted.indices.map(i => col(s"__c$i")).reduce(_ + _)
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val totW = Window.partitionBy()
    val withCum = perVal
      .withColumn("__cum", sum(nv).over(w))
      .withColumn("__N", sum(nv).over(totW))
    val med = withCum.filter(col("__cum") * 2L >= col("__N"))
      .agg(min(col("__v")).as("__med"))
    val aggs = sorted.zipWithIndex.flatMap { case (g, i) =>
      Seq(coalesce(sum(when(col("__v") > col("__med"), col(s"__c$i"))),
        lit(0L)).as(s"__a$i"),
        coalesce(sum(when(col("__v") <= col("__med"), col(s"__c$i"))),
          lit(0L)).as(s"__b$i"))
    }
    val folded = perVal.crossJoin(broadcast(med))
      .agg(aggs.head, aggs.tail: _*)
    def aI(i: Int) = col(s"__a$i"); def bI(i: Int) = col(s"__b$i")
    val aTot = sorted.indices.map(aI).reduce(_ + _)
    val bTot = sorted.indices.map(bI).reduce(_ + _)
    val nTot = aTot + bTot
    val nD = nTot.cast("double")
    // (O−E)²/E per cell, E = n_g·margin/N — fixed left-to-right chain
    val chi2 = sorted.indices.map { i =>
      val ngD = (aI(i) + bI(i)).cast("double")
      val ea = ngD * aTot.cast("double") / nD
      val eb = ngD * bTot.cast("double") / nD
      (aI(i).cast("double") - ea) * (aI(i).cast("double") - ea) / ea +
        (bI(i).cast("double") - eb) * (bI(i).cast("double") - eb) / eb
    }.reduce(_ + _)
    val ok = aTot > 0 && bTot > 0
    folded.crossJoin(broadcast(med))
      .select((Seq(nTot.cast("long").as("n"),
        round(col("__med"), 6).as("grand_median"),
        aTot.cast("long").as("n_above")) ++
        sorted.zipWithIndex.map { case (g, i) =>
          (aI(i) + bI(i)).as(s"n_$g") } ++ Seq(
        round(when(ok, chi2), 6).as("chi2"),
        lit(groups.size - 1).as("df"))): _*)
  }

  /** Brunner–Munzel test between two groups — the modern replacement
    * for [[mannWhitney]] when the two spreads differ (the rank-test
    * Behrens–Fisher problem): MW's variance assumes exchangeability
    * under H₀; BM studentizes the relative effect
    * p̂ = P(X<Y) + ½P(X=Y) with per-group placement variances and a
    * Welch-style df, staying honest when one side is noisier.
    *
    * Exactness: pooled AND within-group 2×-midranks come from per-
    * (value, side) counts; the variance terms fold as
    * E_g = Σ_v c_g·(n_g·(r2p − r2g + n_g + 1) − S2g)² — exact decimals
    * once the 1-row rank-sum totals (S2g) broadcast back (the
    * [[graft.ops.Graph.hits]] two-stage shape) — so
    * S_g² = E_g/(4n_g²(n_g−1)) exactly, and p̂/W/df are each ONE fixed
    * double tree over exact integers.
    *
    * Plan: one corpus pass to per-value side counts, three bounded
    * windows over the distinct frame, a 1-row totals broadcast, one
    * fold. Pre-bin a data-sized axis first (the [[mannWhitneyBinned]]
    * contract applies unchanged — coarsen, then call this).
    */
  def brunnerMunzel(df: DataFrame, groupCol: String, valueCol: String,
                    groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB,
      s"brunnerMunzel: groups must differ (got '$groupA' twice)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isin(groupA, groupB) && col("__v").isNotNull)
    val perVal = base.groupBy(col("__v")).agg(
      sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
      sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__cb"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def below(c: String): Column = coalesce(
      sum(col(c)).over(Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    // 2×-midranks: pooled, within-A, within-B — all from one window set
    val ranked = perVal
      .withColumn("__r2p",
        lit(2L) * (below("__ca") + below("__cb")) +
          col("__ca") + col("__cb") + 1L)
      .withColumn("__r2a", lit(2L) * below("__ca") + col("__ca") + 1L)
      .withColumn("__r2b", lit(2L) * below("__cb") + col("__cb") + 1L)
    val totals = ranked.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("__na"),
      coalesce(sum(col("__cb")), lit(0L)).as("__nb"),
      coalesce(sum(dec(col("__ca")) * col("__r2p")),
        lit(0L).cast("decimal(38,0)")).as("__s2a"),
      coalesce(sum(dec(col("__cb")) * col("__r2p")),
        lit(0L).cast("decimal(38,0)")).as("__s2b"))
    def eTerm(cg: String, r2g: String, n: Column, s2: Column): Column = {
      val d = dec(n) * (col("__r2p") - col(r2g) + n + 1L) - s2
      sum(dec(col(cg)) * d * d)
    }
    val f = ranked.crossJoin(broadcast(totals)).agg(
      max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
      max(col("__s2a")).as("__sa"), max(col("__s2b")).as("__sb"),
      eTerm("__ca", "__r2a", col("__na"), col("__s2a")).as("__ea"),
      eTerm("__cb", "__r2b", col("__nb"), col("__s2b")).as("__eb"))
    val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    // S_g² = E_g / (4 n_g² (n_g − 1)); the statistic needs n_g·S_g²
    val nxSx = col("__ea").cast("double") /
      (lit(4.0) * naD * (naD - 1.0))
    val nySy = col("__eb").cast("double") /
      (lit(4.0) * nbD * (nbD - 1.0))
    val pHat = (col("__sb").cast("double") / (lit(2.0) * nbD) -
      (nbD + 1.0) / 2.0) / naD
    val num = naD * nbD *
      (col("__sb").cast("double") / (lit(2.0) * nbD) -
        col("__sa").cast("double") / (lit(2.0) * naD)) / nD
    val varSum = nxSx + nySy
    val w = num / sqrt(varSum)
    val dfW = varSum * varSum /
      (nxSx * nxSx / (naD - 1.0) + nySy * nySy / (nbD - 1.0))
    val ok = col("n_a") > 1 && col("n_b") > 1
    f.select(col("n_a"), col("n_b"),
      round(when(ok, pHat), 6).as("p_hat"),
      round(when(ok && varSum > 0, w), 6).as("w_stat"),
      round(when(ok && varSum > 0, dfW), 6).as("df"))
  }

  /** Page's trend test over day blocks — the ordered-alternative
    * repeated-measures sibling: [[friedman]] asks "do treatments differ
    * within days at all?"; Page asks "do they increase along the
    * DECLARED order?" L = Σⱼ j·Rⱼ over within-day 2×-midranks (L2 =
    * Σ j·R2ⱼ is exact), z = (L − E)/σ with the classic
    * E = n·k(k+1)²/4 and Var = n·k²(k+1)(k²−1)/144. Only COMPLETE
    * blocks enter (the friedman contract); the roster fails loud.
    */
  def pageTrend(df: DataFrame, dateCol: Column, groupCol: String,
                valueCol: String, ordered: Seq[String]): DataFrame = {
    require(ordered.size >= 3 && ordered.size <= 32 &&
      ordered.distinct == ordered,
      s"pageTrend: 3..32 distinct ORDERED groups (got $ordered)")
    val base = df
      .filter(col(groupCol).isin(ordered: _*) && col(valueCol).isNotNull)
      .groupBy(dateCol.as("__d"), col(groupCol).as("__g"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__x"))
    // isin-filtered, so the probe enforces "every DECLARED treatment
    // observed" (a missing funnel stage must fail loud, not silently
    // shrink every block)
    checkRoster(base.select("__g"), "pageTrend", ordered)
    val k = ordered.size
    val wDay = Window.partitionBy(col("__d"))
    val complete = base
      .withColumn("__cnt", count(lit(1)).over(wDay))
      .filter(col("__cnt") === k)
      .withColumn("__r2",
        lit(2L) * (rank().over(wDay.orderBy(col("__x"))) - 1L) +
          count(lit(1)).over(Window.partitionBy(col("__d"), col("__x"))) +
          1L)
    // position j = 1-based index in the DECLARED order (not sorted)
    val aggs = ordered.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, col("__r2")).otherwise(0L)).as(s"__s$i")
    } :+ (count(lit(1)) / k).cast("long").as("n_days")
    val folded = complete.agg(aggs.head, aggs.tail: _*)
    val l2 = ordered.indices.map(i => col(s"__s$i") * (i + 1L)).reduce(_ + _)
    val nD = col("n_days").cast("double")
    val kD = k.toDouble
    val l = l2.cast("double") / 2.0
    val eL = nD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    val varL = nD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) / 144.0
    val ok = col("n_days") > 0
    folded.select((Seq(col("n_days")) ++
      ordered.zipWithIndex.map { case (g, i) =>
        col(s"__s$i").as(s"ranksum2_$g") } ++ Seq(
      round(when(ok, l), 6).as("page_l"),
      round(when(ok, eL), 6).as("e_l"),
      round(when(ok && varL > 0, (l - eL) / sqrt(varL)), 6).as("z"))): _*)
  }

  /** Wald–Wolfowitz runs test over the daily series' up/down moves —
    * "are the direction changes random, or do up-days cluster?" The
    * sequence-randomness companion to [[autocorr]] (which reads linear
    * memory; runs reads ANY sign clustering). Ties (zero moves on the
    * exact centi lattice) are dropped per the standard treatment; R,
    * n⁺, n⁻ are exact integers and the normal approximation
    * z = (R − μ)/σ is one fixed tree over them.
    *
    * Plan: one keyed daily aggregation + lag windows over the
    * calendar-bounded day table. One row out.
    */
  def runsTest(df: DataFrame, dateCol: Column,
               valueCol: String): DataFrame = {
    val ord = Window.orderBy(col("__d"))
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__x"))
    val moves = daily
      .withColumn("__s", signum((col("__x") - lag(col("__x"), 1)
        .over(ord)).cast("double")))
      .filter(col("__s").isNotNull && col("__s") =!= 0.0)
    val runs = moves
      .withColumn("__prev", lag(col("__s"), 1).over(Window.orderBy("__d")))
      .agg(
        sum(when(col("__s") === 1.0, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("__s") === -1.0, 1L).otherwise(0L)).as("n_down"),
        (sum(when(col("__prev").isNull ||
          col("__s") =!= col("__prev"), 1L).otherwise(0L))).as("n_runs"))
    val n1 = col("n_up").cast("double")
    val n2 = col("n_down").cast("double")
    val nn = n1 + n2
    val mu = lit(2.0) * n1 * n2 / nn + 1.0
    val sig2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      (nn * nn * (nn - 1.0))
    runs.select(col("n_up"), col("n_down"), col("n_runs"),
      round(mu, 6).as("expected_runs"),
      when(col("n_up") > 0 && col("n_down") > 0 && sig2 > 0,
        round((col("n_runs").cast("double") - mu) / sqrt(sig2), 6))
        .as("z_stat"))
  }

  /** Jarque–Bera normality test over the value column: skewness and
    * excess kurtosis from EXACT raw moments (centi-lattice longs; Σx²,
    * Σx³, Σx⁴ as exact decimals), central moments by the raw-moment
    * identities in ONE fixed double tree each, and
    * JB = n/6·(S² + K²/4). The "can I use z-tests / normal CIs on
    * this column at all" gate — heavy tails blow K up immediately.
    * Scale cancels in S and K, so the lattice unit never needs
    * unwinding. One corpus fold, one row.
    */
  def jarqueBera(df: DataFrame, valueCol: String): DataFrame = {
    val x = round(col(valueCol) * 100, 0).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val folded = df.select(x.as("__x"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__s1"),
        sum(dec(col("__x")) * col("__x")).as("__s2"),
        sum(dec(col("__x")) * col("__x") * col("__x")).as("__s3"),
        sum(dec(col("__x")) * col("__x") * col("__x") * col("__x"))
          .as("__s4"))
    val nD = col("n").cast("double")
    val m = col("__s1").cast("double") / nD
    val r2 = col("__s2").cast("double") / nD
    val r3 = col("__s3").cast("double") / nD
    val r4 = col("__s4").cast("double") / nD
    val m2 = r2 - m * m
    val m3 = r3 - lit(3.0) * m * r2 + lit(2.0) * m * m * m
    val m4 = r4 - lit(4.0) * m * r3 + lit(6.0) * (m * m) * r2 -
      lit(3.0) * (m * m * m * m)
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2) - 3.0
    folded.select(col("n"),
      round(m / 100.0, 6).as("mean"),
      when(m2 > 0, round(skew, 6)).as("skewness"),
      when(m2 > 0, round(kurt, 6)).as("excess_kurtosis"),
      when(m2 > 0, round(nD / 6.0 * (skew * skew + kurt * kurt / 4.0), 6))
        .as("jb_stat"))
  }

  /** Hill estimator of the Pareto tail exponent over the top-k entity
    * values: α̂ = k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) — the heavy-tail sharpness
    * [[giniConcentration]] (one number for the WHOLE curve) and
    * [[abcClassification]] (fixed cuts) can't read: α ≤ 2 means
    * infinite variance (capacity planning on means is wrong), and the
    * asymptotic se = α̂/√k says how far to trust it.
    *
    * Entity values ride the centi lattice; the top-(k+1) election is a
    * deterministic integer sort (value desc, entity tiebreak); each
    * log-ratio term commits to the 1e-12 lattice so the k-term sum is
    * exact; √k is injected as one shared literal. Fails loud when the
    * roster has fewer than k+1 positive entities.
    *
    * Plan: one keyed aggregation + the documented Pareto global-rank
    * class + a k-row fold. One row out.
    */
  /** Peaks-over-threshold GPD tail fit (the extreme-value complement of
    * [[hillTail]]'s log-log slope and [[lognormalFit]]'s body fit):
    * threshold u at the exact p95 (the house interpolating percentile —
    * parity with `quantile_cont` is established by q_percentiles),
    * excesses x − u fitted to a Generalized Pareto by method of moments
    * (ξ = (1 − m²/s²)/2, σ = m(1 + m²/s²)/2 — closed-form, no solver,
    * replays in any engine), and the fitted p99.9 quantile
    * u + σ/ξ·((ζ_u/(1−p))^ξ − 1) as the extrapolation readout beside
    * the EXACT empirical p99.9 — the gap tells you whether the tail is
    * GPD-shaped before anyone trusts the extrapolation.
    *
    * Determinism: excess sums fold on the centi lattice (variance is
    * shift-invariant, so s² comes from Σxc, Σxc² over the excess set —
    * exact 128-bit integers); m/ξ/σ are one fixed double tree; the
    * boundary filter x > u is safe because an interpolated u either
    * equals a lattice value exactly (g = 0 in both engines) or lies
    * strictly between two (no row can sit on it).
    *
    * Plan: one percentile aggregation, one filtered 1-row fold. No
    * window, no sort beyond the percentile buffer.
    */
  def gpdTail(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    val thr = df.agg(
      expr(s"percentile($valueCol, array(0.95D, 0.999D))").as("__p"),
      count(when(v.isNotNull, lit(1))).as("n"))
      .select(element_at(col("__p"), 1).as("__u"),
        element_at(col("__p"), 2).as("__q999_emp"), col("n"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // the excess fold is a CONDITIONAL aggregation (not a filter → agg):
    // when nothing strictly exceeds u — a discretized tail where p95
    // equals the max — the query still emits its one readout row with
    // n_exc = 0 and NULL fit params (the 1-row contract every other fold
    // op keeps), instead of grouping an empty relation into zero rows
    val over = col("__x") > col("__u")
    val xc = round(col("__x") * 100, 0).cast("long")
    val exc = df.select(v.as("__x")).crossJoin(broadcast(thr))
      .groupBy(col("__u"), col("__q999_emp"), col("n"))
      .agg(count(when(over, lit(1))).as("n_exc"),
        sum(when(over, xc)).as("__s"),
        sum(when(over, dec(xc) * xc)).as("__q"))
    val nE = col("n_exc").cast("double")
    val meanX = col("__s").cast("double") / (lit(100.0) * nE)
    val m = meanX - col("__u")
    val s2 = (col("__q").cast("double") / lit(10000.0) -
      (col("__s").cast("double") / lit(100.0)) *
        (col("__s").cast("double") / lit(100.0)) / nE) / (nE - lit(1.0))
    val ratio = m * m / s2
    val xi = lit(0.5) * (lit(1.0) - ratio)
    val sigma = lit(0.5) * m * (lit(1.0) + ratio)
    val zeta = nE / col("n").cast("double")
    val q999 = when(col("n_exc") >= 2 && s2 > 0 && xi =!= 0.0,
      col("__u") + sigma / xi *
        (pow(zeta / lit(0.001), xi) - lit(1.0)))
    exc.select(col("n"), col("n_exc"),
      round(col("__u"), 6).as("threshold_p95"),
      round(when(col("n_exc") >= 1, m), 6).as("mean_excess"),
      round(when(col("n_exc") >= 2 && s2 > 0, xi), 6).as("xi"),
      round(when(col("n_exc") >= 2 && s2 > 0, sigma), 6).as("sigma"),
      round(q999, 6).as("q999_fitted"),
      round(col("__q999_emp"), 6).as("q999_empirical"))
  }

  def hillTail(df: DataFrame, entityCol: String, valueCol: String,
               k: Int): DataFrame = {
    require(k >= 2 && k <= 100000, s"hillTail: k in [2, 1e5] (got $k)")
    val per = df.groupBy(col(entityCol).as("__e"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__c"))
      .filter(col("__c") > 0)
    val nEnt = per.count()
    require(nEnt > k,
      s"hillTail: need more than k=$k positive entities, got $nEnt")
    val ord = Window.orderBy(col("__c").desc, col("__e"))
    val top = per.withColumn("__rn", row_number().over(ord))
      .filter(col("__rn") <= k + 1)
    val xmin = top.filter(col("__rn") === k + 1)
      .select(col("__c").as("__xmin"))
    val folded = top.filter(col("__rn") <= k)
      .crossJoin(broadcast(xmin))
      .select(round(log(col("__c").cast("double") / col("__xmin"))
        * 1e12, 0).cast("long").as("__t"), col("__xmin"))
      .groupBy(col("__xmin"))
      .agg(sum(col("__t")).as("__ts"))
    val alphaRaw = lit(k.toDouble) / (col("__ts").cast("double") / 1e12)
    val sqrtK = math.sqrt(k.toDouble)
    folded.select(lit(nEnt).as("n_entities"), lit(k).as("k"),
      round(col("__xmin").cast("double") / 100.0, 2).as("xmin"),
      round(alphaRaw, 6).as("alpha"),
      round(alphaRaw / lit(sqrtK), 6).as("alpha_se"))
  }

  /** DAU / MAU / stickiness per day — the canonical engagement ratio
    * ("what fraction of the monthly audience shows up daily"). MAU(d)
    * counts distinct users active in (d−windowDays, d]; rather than a
    * distinct-count over a sliding window (quadratic rescans), each
    * user-day FANS OUT to the `windowDays` future days it keeps the
    * user "monthly-active" for — a bounded ×window replication, one
    * distinct, one keyed count (the standard scalable MAU shape). Days
    * past the last observed day are clipped via the day roster. All
    * counts exact; stickiness is one rounded division.
    */
  def stickiness(df: DataFrame, keyCol: String, tsCol: String,
                 windowDays: Int = 30): DataFrame = {
    require(windowDays >= 1 && windowDays <= 366,
      s"stickiness: windowDays in [1, 366] (got $windowDays)")
    val ud = df.select(col(keyCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .distinct()
    val dau = ud.groupBy(col("__d").as("day")).agg(count(lit(1)).as("dau"))
    val mau = ud
      .select(col("__u"), explode(sequence(col("__d"),
        date_add(col("__d"), windowDays - 1))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** ABC (Pareto) classification of entities by value contribution —
    * the inventory/catalog working answer to [[giniConcentration]]'s
    * diagnosis: rank entities by revenue, class A carries the first
    * `cutA`% of cumulative value, B to `cutB`%, C the tail; one summary
    * row per class with entity and revenue rollups. Cuts are INTEGER
    * percents and the boundary test cross-multiplies exact centi-lattice
    * longs (cum·100 ≤ total·cut), so no entity ever flips class on
    * float noise.
    *
    * Plan: one keyed aggregation, one global rank over the ENTITY table
    * (dimension-sized — the documented Pareto/Lorenz global-sort class,
    * same as giniConcentration), one ≤3-row fold.
    */
  def abcClassification(df: DataFrame, keyCol: String, valueCol: String,
                        cutA: Int = 80, cutB: Int = 95): DataFrame = {
    require(0 < cutA && cutA < cutB && cutB < 100,
      s"abcClassification: 0 < cutA < cutB < 100 (got $cutA, $cutB)")
    val per = df.groupBy(col(keyCol).as("__k"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__c"))
    val ord = Window.orderBy(col("__c").desc, col("__k"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    per
      .withColumn("__cum", sum(col("__c")).over(cum))
      .withColumn("__tot", sum(col("__c")).over(whole))
      .withColumn("__nk", count(lit(1)).over(whole))
      .withColumn("abc_class",
        when(col("__cum") * 100L <= col("__tot") * cutA, "A")
          .when(col("__cum") * 100L <= col("__tot") * cutB, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("__c")).as("__cc"),
        max(col("__tot")).as("__t"),
        max(col("__nk")).as("__nk"))
      .select(col("abc_class"), col("n_keys"),
        round(col("n_keys").cast("double") / col("__nk"), 6)
          .as("key_share"),
        round(col("__cc").cast("double") / 100.0, 2).as("class_revenue"),
        round(col("__cc").cast("double") / col("__t"), 6)
          .as("revenue_share"))
      .orderBy("abc_class")
  }

  /** Kendall's τ-b between two INTEGER daily aggregates — the
    * pair-concordance association measure completing the correlation
    * triple ([[corrMatrix]] Pearson, [[spearman]] rank): τ reads "what
    * fraction of day pairs move together", is robust to any monotone
    * transform, and its tie correction (τ-b) keeps it honest on
    * discrete counts. Integer inputs make every pair comparison exact —
    * concordant/discordant/tie counts are pure longs and the statistic
    * is one fixed double tree over five integers.
    *
    * Plan: one keyed daily aggregation, then the [[mannKendall]] /
    * [[theilSenPerKey]] pair kernel over the CALENDAR-BOUNDED day table
    * (~days²/2 pairs — 3 M for a decade). One output row.
    */
  def kendallTau(df: DataFrame, bucketCol: Column, xAgg: Column,
                 yAgg: Column): DataFrame = {
    val daily = df.groupBy(bucketCol.as("__b"))
      .agg(xAgg.as("__x"), yAgg.as("__y"))
    Seq("__x", "__y").foreach { c =>
      daily.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType => ()
        case other => throw new IllegalArgumentException(
          s"kendallTau: aggregates must be integral for exact pair " +
            s"comparisons; $c is $other — put values on a lattice first")
      }
    }
    val l = daily.select(col("__b").as("__b1"), col("__x").as("__x1"),
      col("__y").as("__y1"))
    val r = daily.select(col("__b").as("__b2"), col("__x").as("__x2"),
      col("__y").as("__y2"))
    val sx = signum((col("__x2") - col("__x1")).cast("double"))
    val sy = signum((col("__y2") - col("__y1")).cast("double"))
    val folded = l.join(r, col("__b1") < col("__b2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(sx * sy === 1.0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sx * sy === -1.0, 1L).otherwise(0L)).as("discordant"),
        sum(when(sx === 0.0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(sy === 0.0, 1L).otherwise(0L)).as("ties_y"))
    val tau = (col("concordant") - col("discordant")).cast("double") /
      sqrt((col("n_pairs") - col("ties_x")).cast("double") *
        (col("n_pairs") - col("ties_y")))
    folded.select(col("n_pairs"), col("concordant"), col("discordant"),
      col("ties_x"), col("ties_y"),
      when(col("n_pairs") > col("ties_x") &&
        col("n_pairs") > col("ties_y"), round(tau, 6)).as("tau_b"))
  }

  /** Per-entity inter-arrival profile: mean / min / max gap between
    * consecutive events and the coefficient of variation of the gaps —
    * the Poisson-ness check at the WITHIN-day grain [[burstiness]]'s
    * daily Fano factor can't see (CV ≈ 1 exponential/memoryless, ≫ 1
    * bursty sessions, ≪ 1 metronomic bots — the bot-detection and
    * session-gap-tuning signal). Entities with fewer than two events
    * have no gap and are excluded by construction.
    *
    * Gaps are exact long microseconds (ties in ts are fine: consecutive
    * differences depend only on the sorted multiset, not the tiebreak);
    * CV folds from exact Σg and HUGEINT Σg², and the µs unit cancels in
    * the ratio, so no descaling double enters the statistic.
    *
    * Plan: one per-key lag window + one keyed fold — corpus-sized but
    * fully keyed, map-side combined, no global stage.
    */
  def interArrival(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__us"))
    val gaps = df
      .select(col(keyCol), unix_micros(col(tsCol).cast("timestamp"))
        .as("__us"))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("__gap").isNotNull)
    val per = gaps.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__gap")).as("__sg"),
        sum(col("__gap").cast("decimal(38,0)") * col("__gap")).as("__sgg"),
        min(col("__gap")).as("__mn"),
        max(col("__gap")).as("__mx"))
    val nD = col("n_gaps").cast("double")
    val meanUs = col("__sg").cast("double") / nD
    val varUs = (col("n_gaps").cast("decimal(38,0)") * col("__sgg") -
      col("__sg").cast("decimal(38,0)") * col("__sg")).cast("double") /
      (nD * nD)
    per.select(col(keyCol), col("n_gaps"),
      // 6-decimal rounding via SCALE-0 rounding of the µs mean: sg/n is a
      // small-denominator rational, so its 7th decimal digit is often an
      // EXACT 5 — round(x, 6) then splits engines (Spark rounds the
      // double's exact decimal expansion, DuckDB rounds in float math;
      // caught at sf0.1). round(·, 0) operates on an exactly-representable
      // half-integer, where both engines agree bit-for-bit.
      (round(meanUs, 0) / 1e6).as("mean_gap_s"),
      round(col("__mn").cast("double") / 1e6, 6).as("min_gap_s"),
      round(col("__mx").cast("double") / 1e6, 6).as("max_gap_s"),
      when(meanUs > 0, round(sqrt(varUs) / meanUs, 6)).as("cv"))
      .orderBy(keyCol)
  }

  /** Mann–Kendall trend test over the daily series — the nonparametric
    * "is there a monotone trend" companion to [[theilSenPerKey]]'s slope
    * (same kernel: sign of every pair): S = Σ_{i<j} sgn(xⱼ − xᵢ) with
    * the tie-corrected variance Var S = [n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5)]/18 and the continuity-corrected z. Values ride
    * the centi lattice so every pair SIGN is exact — the float-boundary
    * failure mode of comparing near-equal doubles cannot occur.
    *
    * Plan: one keyed daily aggregation, then a pairwise self-join over
    * the CALENDAR-BOUNDED day table (the theilSen pair kernel; ~days²/2
    * pairs — 3 M for a decade of days) plus a tie fold at the distinct-
    * value grain. One output row.
    */
  def mannKendall(df: DataFrame, dateCol: Column,
                  valueCol: String): DataFrame = {
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__vc"))
      .localCheckpoint(eager = false)
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.__d") < col("b.__d"))
      .select(signum(col("b.__vc") - col("a.__vc")).cast("long").as("__s"))
    val sStat = pairs.agg(coalesce(sum(col("__s")), lit(0L)).as("s_stat"))
    val nRow = daily.agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("__vc")).agg(count(lit(1)).as("__t"))
      .agg(coalesce(sum(col("__t") * (col("__t") - 1L)
        * (lit(2L) * col("__t") + 5L)), lit(0L)).as("__tsum"))
    nRow.crossJoin(broadcast(sStat)).crossJoin(broadcast(ties))
      .withColumn("var_s", round(
        (col("n_days") * (col("n_days") - 1L)
          * (lit(2L) * col("n_days") + 5L) - col("__tsum")).cast("double")
          / lit(18.0), 6))
      .withColumn("z", when(col("var_s") > 0.0, round(
        when(col("s_stat") > 0, (col("s_stat") - 1L).cast("double"))
          .when(col("s_stat") < 0, (col("s_stat") + 1L).cast("double"))
          .otherwise(lit(0.0)) / sqrt(col("var_s")), 6)))
      .withColumn("trend",
        when(col("s_stat") > 0, "increasing")
          .when(col("s_stat") < 0, "decreasing").otherwise("none"))
      .select("n_days", "s_stat", "var_s", "z", "trend")
  }

  /** Empirical tail dependence — the dependence correlation can't see:
    * λ_U(q) = P(Y > y_q | X > x_q) at matched upper quantiles (and the
    * lower-tail mirror), the "do extremes co-occur?" readout risk
    * management needs (two columns can be ρ ≈ 0 yet crash together —
    * or ρ ≈ 0.9 with fully independent tails). Emitted at each
    * declared q with the exceedance counts so the reader sees the
    * support behind each ratio. Under independence λ → 1−q; values
    * far above that mean joint extremes cluster.
    *
    * Determinism: thresholds come from the array-percentile election
    * (quantile_cont parity); exceedance counts are exact longs from
    * strict lattice comparisons; ratios are fixed trees.
    *
    * Plan: one percentile fold broadcast back, one conditional-count
    * fold per declared q (stacked into one pass). No window, no join
    * beyond the 1-row broadcast.
    */
  /** Exact quantiles at the DISTINCT-VALUE grain — value-identical to
    * `percentile(col, array(probs))` but without the builtin's
    * full-column value buffer (an OpenHashMap per partial, merged
    * single-threaded at the final agg — 3.2 s for four folds over
    * 600 K lineitem rows). Shape: one map-side-combined (value, count)
    * aggregation, a DISTRIBUTED running sum over the DISTINCT values
    * (range-partitioned two-level prefix sum — on a mostly-distinct
    * column the distinct grain is the corpus, so a single global window
    * would be a one-task sort at scale; the only global window left is
    * over one row per shuffle partition), and one conditional fold that
    * picks each probability's bracketing
    * order statistics. The interpolation replicates Spark's Percentile
    * formula term for term:
    * `(higher − pos) · v_lo + (pos − lower) · v_hi` at
    * `pos = p · (n − 1)` — StatsSpec pins exact equality against the
    * builtin on real and generated columns (ties, ±0.0, NaN, ±Inf).
    * Nulls are skipped like the builtin.
    *
    * Returns one row: `n` (long) and `out` (array<double>, one element
    * per prob, in the given order). Empty input → one row with n = 0
    * and a null array, matching the builtin's null.
    */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     probs: Seq[Double], out: String = "qs"): DataFrame = {
    require(probs.nonEmpty && probs.size <= 32 &&
      probs.forall(p => p >= 0.0 && p <= 1.0),
      s"exactQuantiles: 1..32 probs in [0, 1] (got $probs)")
    // −0.0 stays its own value, ordered before 0.0 — what the builtin's
    // hash buffer does up to a few hundred distinct values (beyond that
    // its ±0.0 order follows the table layout). A grouping key is
    // normalized to 0.0, so the sign rides in a second key (`__nz`) and
    // is put back after the aggregation.
    val counts = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v"), (col("__v") === 0.0 &&
        col("__v").cast("string").startsWith("-")).as("__nz"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__v", when(col("__nz"), lit(-0.0)).otherwise(col("__v")))
    // Distributed running sum (round 13): the old global
    // `Window.orderBy(__v)` moved EVERY distinct value to one task — fine
    // at a bounded-bin grain, a one-task sort on a mostly-distinct
    // column. Two-level prefix sum instead: range-partition the distinct
    // values (partition i's values all sort before partition i+1's), sum
    // WITHIN each range partition, and add the partition's prefix offset.
    // The lazy localCheckpoint pins ONE materialized range layout so both
    // consumers (offsets, local sums) see identical spark_partition_id
    // assignments; integer sums make the split bit-exact, so the raw-bit
    // StatsSpec parity against the builtin still holds. The one global
    // window left runs over ONE ROW PER SHUFFLE PARTITION (bounded by
    // cluster config, not data — the documented bounded-global-window
    // class).
    val ranged = counts.repartitionByRange(col("__v"), col("__nz").desc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val offs = ranged.groupBy(col("__pid"))
      .agg(sum(col("__c")).as("__pt"))
      .withColumn("__off", coalesce(sum(col("__pt")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    val cum = ranged
      .withColumn("__lend", sum(col("__c")).over(
        Window.partitionBy(col("__pid"))
          .orderBy(col("__v"), col("__nz").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offs), Seq("__pid"))
      .withColumn("__end", col("__lend") + col("__off"))
      .withColumn("__start", col("__end") - col("__c"))
    val n1 = cum.agg(coalesce(max(col("__end")), lit(0L)).as("__n"))
    val picks = probs.zipWithIndex.flatMap { case (p, i) =>
      val pos = lit(p) * (col("__n") - lit(1L)).cast("double")
      val lo = floor(pos).cast("long")
      val hi = ceil(pos).cast("long")
      Seq(
        max(when(col("__start") <= lo && lo < col("__end"), col("__v")))
          .as(s"__lo$i"),
        max(when(col("__start") <= hi && hi < col("__end"), col("__v")))
          .as(s"__hi$i"))
    }
    val f = cum.crossJoin(broadcast(n1))
      .agg(picks.head, picks.tail: _*)
      .crossJoin(broadcast(n1))
    val outElems = probs.zipWithIndex.map { case (p, i) =>
      val pos = lit(p) * (col("__n") - lit(1L)).cast("double")
      val lo = floor(pos); val hi = ceil(pos)
      val (vLo, vHi) = (col(s"__lo$i"), col(s"__hi$i"))
      // the builtin skips interpolation when the two keys are equal as
      // numbers (−0.0 and 0.0 included, NaN never)
      when(lo === hi || (vLo === vHi && !isnan(vLo)), vLo)
        .otherwise((hi - pos) * vLo + (pos - lo) * vHi)
    }
    f.select(col("__n").as("n"),
      when(col("__n") > 0, array(outElems: _*)).as(out))
  }

  def tailDependence(df: DataFrame, xCol: String, yCol: String,
                     qs: Seq[Double] = Seq(0.9, 0.95, 0.99)): DataFrame = {
    require(qs.nonEmpty && qs.size <= 16 &&
      qs.forall(q => q > 0.5 && q < 1.0) && qs.distinct == qs,
      s"tailDependence: 1..16 distinct quantiles in (0.5, 1) (got $qs)")
    val base = df
      .filter(col(xCol).isNotNull && !isnan(col(xCol)) &&
        col(yCol).isNotNull && !isnan(col(yCol)))
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .localCheckpoint(eager = false)
    // thresholds via the count-grain [[exactQuantiles]] (value-identical
    // to the old 4-buffer percentile fold, ~2 s cheaper at sf0.1); the
    // 2·|qs| probs per column are upper then mirrored lower, then split
    // back into the same four arrays the conditional fold reads
    val allProbs = qs ++ qs.map(1.0 - _)
    val k = qs.size
    val xs = exactQuantiles(base, "__x", allProbs, "__qx")
      .select(slice(col("__qx"), 1, k).as("__xu"),
        slice(col("__qx"), k + 1, k).as("__xl"))
    val ys = exactQuantiles(base, "__y", allProbs, "__qy")
      .select(slice(col("__qy"), 1, k).as("__yu"),
        slice(col("__qy"), k + 1, k).as("__yl"))
    val th = xs.crossJoin(ys)
    val joined = base.crossJoin(broadcast(th))
    val aggs = qs.zipWithIndex.flatMap { case (_, i) =>
      val (xu, yu) = (element_at(col("__xu"), i + 1),
        element_at(col("__yu"), i + 1))
      val (xl, yl) = (element_at(col("__xl"), i + 1),
        element_at(col("__yl"), i + 1))
      Seq(
        sum(when(col("__x") > xu, 1L).otherwise(0L)).as(s"__nxu$i"),
        sum(when(col("__x") > xu && col("__y") > yu, 1L).otherwise(0L))
          .as(s"__nju$i"),
        sum(when(col("__x") < xl, 1L).otherwise(0L)).as(s"__nxl$i"),
        sum(when(col("__x") < xl && col("__y") < yl, 1L).otherwise(0L))
          .as(s"__njl$i"))
    }
    val f = joined.agg(count(lit(1)).as("__n"), aggs: _*)
    val arms = qs.zipWithIndex.map { case (q, i) =>
      s"${q}D, __n, __nxu$i, __nju$i," +
        s" round(CASE WHEN __nxu$i > 0 THEN CAST(__nju$i AS DOUBLE)" +
        s" / CAST(__nxu$i AS DOUBLE) END, 6)," +
        s" round(CASE WHEN __nxl$i > 0 THEN CAST(__njl$i AS DOUBLE)" +
        s" / CAST(__nxl$i AS DOUBLE) END, 6)"
    }.mkString(", ")
    f.select(expr(s"stack(${qs.size}, $arms) AS (q, n_rows," +
        " n_exceed_x, n_joint, lambda_upper, lambda_lower)"))
      .orderBy("q")
  }

  /** First-order partial correlation — "are price and quantity REALLY
    * related, or does discount drive both?": r_xy·z = (r_xy −
    * r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) over three lattice columns,
    * with all three raw Pearsons emitted beside it so the reader sees
    * what conditioning removed. The 3-variable confounder screen
    * [[featureCorr]]'s pairwise matrix can't answer.
    *
    * Determinism: each column commits to its integer lattice (×100);
    * all ten sufficient sums fold exactly in decimal; the three
    * correlations and the partial are one fixed double tree.
    *
    * Plan: ONE map-side-combined fold over the corpus. Nothing else.
    */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def lat(c: String) = round(col(c) * 100, 0).cast("long")
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .select(lat(xCol).as("__x"), lat(yCol).as("__y"), lat(zCol).as("__z"))
    val f = base.agg(count(lit(1)).as("n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__z")).as("__sz"),
      sum(dec(col("__x")) * col("__x")).as("__sxx"),
      sum(dec(col("__y")) * col("__y")).as("__syy"),
      sum(dec(col("__z")) * col("__z")).as("__szz"),
      sum(dec(col("__x")) * col("__y")).as("__sxy"),
      sum(dec(col("__x")) * col("__z")).as("__sxz"),
      sum(dec(col("__y")) * col("__z")).as("__syz"))
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    def r(ab: String, a: String, b: String, aa: String,
          bb: String): Column = {
      val num = nD * d(ab) - d(a) * d(b)
      val den = sqrt((nD * d(aa) - d(a) * d(a)) *
        (nD * d(bb) - d(b) * d(b)))
      when(den > 0, num / den)
    }
    val rxy = r("__sxy", "__sx", "__sy", "__sxx", "__syy")
    val rxz = r("__sxz", "__sx", "__sz", "__sxx", "__szz")
    val ryz = r("__syz", "__sy", "__sz", "__syy", "__szz")
    val denP = sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    f.select(col("n"),
      round(rxy, 6).as("r_xy"),
      round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      round(when(denP > 0, (rxy - rxz * ryz) / denP), 6)
        .as("partial_r_xy_z"))
  }

  /** Seasonal Mann–Kendall trend test — [[mannKendall]] restricted to
    * WITHIN-weekday-slot pairs (Hirsch–Slack): a strong weekly cycle
    * poisons the plain MK (Monday-vs-Sunday pairs read seasonality as
    * trend); comparing each weekday only with the same weekday removes
    * the cycle without modeling it. Emits one row per epoch-mod-7 slot
    * (its own S, variance, z) plus the combined slot = −1 row
    * (S = ΣS_k, Var = ΣVar_k, the continuity-corrected z — the
    * seasonal-MK readout).
    *
    * Determinism: sign sums are exact integers over the centi lattice;
    * variance NUMERATORS stay integer per slot (n(n−1)(2n+5) − ties)
    * so the combined variance is one exact long sum over ≤7 slots
    * divided once by 18 — never a float fold across slots.
    *
    * Plan: the [[mannKendall]] slot-constrained day-pair join
    * (calendar-bounded: Σ per-slot (n_k choose 2) ≤ (days/7)²·7), two
    * keyed slot aggregations, one bounded fold.
    */
  def seasonalMannKendall(df: DataFrame, dateCol: Column,
                          valueCol: String): DataFrame = {
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__vc"))
      .withColumn("__slot",
        expr("pmod(datediff(__d, DATE '1970-01-01'), 7)").cast("int"))
      .localCheckpoint(eager = false)
    val sPer = daily.as("a").join(daily.as("b"),
        col("a.__slot") === col("b.__slot") && col("a.__d") < col("b.__d"))
      .groupBy(col("a.__slot").as("slot"))
      .agg(sum(signum(col("b.__vc") - col("a.__vc")).cast("long"))
        .as("s_stat"))
    val nPer = daily.groupBy(col("__slot").as("slot"))
      .agg(count(lit(1)).as("n_days"))
    val tiesPer = daily.groupBy(col("__slot").as("slot"), col("__vc"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("slot"))
      .agg(coalesce(sum(col("__t") * (col("__t") - 1L) *
        (lit(2L) * col("__t") + 5L)), lit(0L)).as("__tsum"))
    val slots = nPer.join(sPer, Seq("slot"), "left")
      .join(tiesPer, Seq("slot"))
      .withColumn("s_stat", coalesce(col("s_stat"), lit(0L)))
      .withColumn("__num", col("n_days") * (col("n_days") - 1L) *
        (lit(2L) * col("n_days") + 5L) - col("__tsum"))
    val total = slots.agg(sum(col("n_days")).as("n_days"),
        sum(col("s_stat")).as("s_stat"), sum(col("__num")).as("__num"))
      .withColumn("slot", lit(-1))
    def zOf(d: DataFrame): DataFrame = {
      val vs = col("__num").cast("double") / lit(18.0)
      d.withColumn("var_s", round(vs, 6))
        .withColumn("z", when(vs > 0, round(
          when(col("s_stat") > 0, (col("s_stat") - 1L).cast("double"))
            .when(col("s_stat") < 0, (col("s_stat") + 1L).cast("double"))
            .otherwise(lit(0.0)) / sqrt(vs), 6)))
        .select(col("slot"), col("n_days"), col("s_stat"),
          col("var_s"), col("z"))
    }
    zOf(slots).unionByName(zOf(total)).orderBy("slot")
  }

  /** Spearman rank correlation (with Pearson alongside for the
    * linearity contrast): Pearson over MIDRANKS, with every rank held
    * as the INTEGER 2·midrank (= 2·#smaller + count + 1), so the five
    * sufficient statistics are exact long sums in any partition order
    * and the closed form runs once on engine-identical doubles — the
    * monotone-association readout that survives the outliers and
    * nonlinearity plain corr() absorbs.
    *
    * Plan: one per-value count aggregation and one cumulative window
    * per axis (distinct-value grain — the q_ks ECDF class; pre-bin the
    * axis first if its distinct count is data-sized), two value-keyed
    * joins back, ONE five-statistic fold in decimal(38,0) (the rank
    * products aggregate to ~4n³, which overflows BIGINT past ~13M rows
    * — measured by the rank9 ScaleStress leg; decimal carries ~10¹²).
    * For a data-sized distinct axis use [[spearmanBinned]].
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    def rank2(c: String, out: String): DataFrame = {
      val per = base.groupBy(col(c)).agg(count(lit(1)).as("__n"))
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      per.withColumn(out,
          lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
            + col("__n") + lit(1L))
        .select(col(c), col(out))
    }
    val ranked = base
      .join(rank2("__x", "__rx2"), Seq("__x"))
      .join(rank2("__y", "__ry2"), Seq("__y"))
    // decimal(38,0) sufficient sums: the rank products are ~4n³ in
    // aggregate, which overflows BIGINT (ANSI fail-loud) past ~13M rows
    // — rank9 ScaleStress hit it at the 10M-row leg. Decimal headroom
    // carries ~10¹² rows; the close casts to double either way.
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val folded = ranked.agg(
      count(lit(1)).as("n"),
      sum(dec(col("__rx2"))).as("__sx"),
      sum(dec(col("__ry2"))).as("__sy"),
      sum(dec(col("__rx2")) * col("__rx2")).as("__sxx"),
      sum(dec(col("__ry2")) * col("__ry2")).as("__syy"),
      sum(dec(col("__rx2")) * col("__ry2")).as("__sxy"),
      corr(col("__x"), col("__y")).as("__pr"))
    folded.select(col("n"),
      round((col("n").cast("double") * col("__sxy")
          - col("__sx").cast("double") * col("__sy"))
        / sqrt((col("n").cast("double") * col("__sxx")
            - col("__sx").cast("double") * col("__sx"))
          * (col("n").cast("double") * col("__syy")
            - col("__sy").cast("double") * col("__sy"))), 6)
        .as("spearman_rho"),
      round(col("__pr"), 6).as("pearson"))
  }

  /** [[spearman]] over [[Drift.latticeBin]]-coarsened axes — the
    * 100 TB form: each axis is binned on its OWN integer-lattice grid
    * first, so both per-axis midrank windows run over ≤ `bins` rows
    * instead of the distinct-value grain (on continuous axes, distinct
    * ≈ rows — the round-8 audit's one weak plan family). ρ is the
    * Spearman of the coarsened pair — within-bin relocation moves each
    * 2×-midrank by at most that bin's mass, and StatsSpec pins the
    * observed gap on a monotone-plus-noise corpus. The pearson column
    * is computed on the bin representatives in original value units.
    * Rows drop only when EITHER axis is null/NaN (pairwise, mirroring
    * exact). Two corpus passes total (one shared bounds aggregate for
    * both axes, one shuffle to the ≤bins² pair grain); the pearson
    * column is exact integer lattice moments through one fixed double
    * tree — corr() cannot weight by pair counts.
    */
  def spearmanBinned(df: DataFrame, xCol: String, yCol: String,
                     bins: Int = 1000): DataFrame = {
    require(bins >= 2 && bins <= 100000,
      s"spearmanBinned: bins in [2, 100000] (got $bins)")
    val vx = col(xCol).cast("double"); val vy = col(yCol).cast("double")
    val base = df
      .filter(vx.isNotNull && !isnan(vx) && vy.isNotNull && !isnan(vy))
      .select(round(vx * 100, 0).cast("long").as("__xl"),
        round(vy * 100, 0).cast("long").as("__yl"))
    // ONE bounds pass for BOTH axes, then one shuffle of the corpus to
    // the (x-bin, y-bin) PAIR grain (≤ bins² rows) — every rank window
    // and every sufficient sum after that is bin-bounded, and the
    // corpus is scanned exactly twice (bounds + pair counts)
    val bnd = base.agg(min(col("__xl")).as("__lox"),
      max(col("__xl")).as("__hix"),
      min(col("__yl")).as("__loy"), max(col("__yl")).as("__hiy"))
    def repr(v: String, lo: String, hi: String): Column = expr(
      s"$lo + ((((($v) - $lo) * $bins) div (($hi) - ($lo) + 1))" +
        s" * (($hi) - ($lo) + 1)) div $bins")
    val pairs = base.crossJoin(broadcast(bnd))
      .select(repr("__xl", "__lox", "__hix").as("__bx"),
        repr("__yl", "__loy", "__hiy").as("__by"))
      .groupBy(col("__bx"), col("__by")).agg(count(lit(1)).as("__c"))
    def rank2(c: String, out: String): DataFrame = {
      val per = pairs.groupBy(col(c)).agg(sum(col("__c")).as("__n"))
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      per.withColumn(out,
          lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
            + col("__n") + lit(1L))
        .select(col(c), col(out))
    }
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val j = pairs
      .join(rank2("__bx", "__rx2"), Seq("__bx"))
      .join(rank2("__by", "__ry2"), Seq("__by"))
    val folded = j.agg(
      coalesce(sum(col("__c")), lit(0L)).as("n"),
      sum(dec(col("__c")) * col("__rx2")).as("__sx"),
      sum(dec(col("__c")) * col("__ry2")).as("__sy"),
      sum(dec(col("__c")) * col("__rx2") * col("__rx2")).as("__sxx"),
      sum(dec(col("__c")) * col("__ry2") * col("__ry2")).as("__syy"),
      sum(dec(col("__c")) * col("__rx2") * col("__ry2")).as("__sxy"),
      // pearson from exact integer lattice moments (the /100 scale
      // cancels in the ratio); corr() can't weight by pair counts
      sum(dec(col("__c")) * col("__bx")).as("__px"),
      sum(dec(col("__c")) * col("__by")).as("__py"),
      sum(dec(col("__c")) * col("__bx") * col("__bx")).as("__pxx"),
      sum(dec(col("__c")) * col("__by") * col("__by")).as("__pyy"),
      sum(dec(col("__c")) * col("__bx") * col("__by")).as("__pxy"))
    def assoc(sx: String, sy: String, sxx: String, syy: String,
              sxy: String): Column = {
      val nD = col("n").cast("double")
      val num = nD * col(sxy).cast("double") -
        col(sx).cast("double") * col(sy).cast("double")
      val den = sqrt((nD * col(sxx).cast("double") -
        col(sx).cast("double") * col(sx).cast("double")) *
        (nD * col(syy).cast("double") -
          col(sy).cast("double") * col(sy).cast("double")))
      when(den > 0, num / den)
    }
    folded.select(col("n"),
      round(assoc("__sx", "__sy", "__sxx", "__syy", "__sxy"), 6)
        .as("spearman_rho"),
      round(assoc("__px", "__py", "__pxx", "__pyy", "__pxy"), 6)
        .as("pearson"))
  }

  /** Lagged cross-correlation between two aggregates of the same
    * bucketed series — "does purchase volume LEAD average value by k
    * days?": ccf(k) = corr(xₜ, yₜ₋ₖ) for k = −maxLag..maxLag (positive k
    * means y EARLIER — y leading x; negative k the reverse). The
    * cross-series companion to [[autocorr]]: same one-aggregation-plus-
    * bounded-global-window shape, same gap honesty (lag k = k observed
    * buckets back, no calendar fill), same single fold computing every
    * lag's corr at once.
    */
  def crossCorrelation(df: DataFrame, bucket: Column, xAgg: Column,
                       yAgg: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 32,
      s"crossCorrelation: maxLag in [1, 32] (got $maxLag)")
    val s = df.groupBy(bucket.as("bucket"))
      .agg(xAgg.cast("double").as("x"), yAgg.cast("double").as("y"))
    val w = Window.partitionBy().orderBy("bucket")
    val ks = -maxLag to maxLag
    def nm(k: Int) = s"__s${k + maxLag}"
    val lagged = ks.foldLeft(s) { (d, k) =>
      d.withColumn(nm(k), if (k == 0) col("y") else lag(col("y"), k).over(w))
    }
    val aggs = ks.flatMap { k =>
      Seq(corr(col("x"), col(nm(k))).as(s"__c${k + maxLag}"),
        count(col(nm(k))).as(s"__n${k + maxLag}"))
    }
    val folded = lagged.groupBy().agg(aggs.head, aggs.tail: _*)
    folded.select(expr(
      ks.map(k => s"$k, __c${k + maxLag}, __n${k + maxLag}")
        .mkString(s"stack(${ks.size}, ", ", ", ")")
        + " AS (lag, ccf, n_pairs)"))
      .withColumn("ccf", round(col("ccf"), 6))
      .orderBy("lag")
  }

  /** OLS influence diagnostics over the daily trend: for each day of
    * the aggregated series, its leverage hᵢ, standardized residual,
    * and Cook's distance against the simple day-index regression —
    * "which days are actually steering the trend line?" The per-point
    * companion to [[trendPerKey]]'s per-key summary: a quarter-end
    * spike with high Cook's D means the reported slope is one event,
    * not a trend. Days with Cook's D > 4/n are flagged.
    *
    * Determinism: the trendPerKey discipline — integer x (dense day
    * index), centi-lattice y, exact sufficient sums — then ONE fixed
    * double tree per diagnostic (slope/intercept/RSS from the standard
    * identities on exact longs; lattice scale cancels in h, r, and D
    * and is unwound by one division in the reported value/residual).
    *
    * Plan: one corpus-sized keyed aggregation to the calendar-bounded
    * daily frame, the dense-index window over that bounded frame, one
    * 1-row fold broadcast back. Output is day-grain.
    */
  def regressionInfluence(df: DataFrame, dateCol: Column,
                          valueCol: String): DataFrame = {
    val daily = df.groupBy(dateCol.as("day"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val ranked = daily.withColumn("__x",
      row_number().over(Window.partitionBy().orderBy(col("day")))
        .cast("long"))
      .localCheckpoint(eager = false)
    val f = ranked.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y")).as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__y").cast("decimal(38,0)") * col("__y")).as("__syy"))
    val nD = col("__n").cast("double")
    def d(c: String) = col(c).cast("double")
    val b = (nD * d("__sxy") - d("__sx") * d("__sy")) /
      (nD * d("__sxx") - d("__sx") * d("__sx"))
    val a = (d("__sy") - b * d("__sx")) / nD
    val sxxC = d("__sxx") - d("__sx") * d("__sx") / nD
    val xbar = d("__sx") / nD
    val rss = d("__syy") - a * d("__sy") - b * d("__sxy")
    val s2 = rss / (nD - 2.0)
    val xD = col("__x").cast("double")
    val e = col("__y").cast("double") - (a + b * xD)
    val h = lit(1.0) / nD + (xD - xbar) * (xD - xbar) / sxxC
    val r = e / sqrt(s2 * (lit(1.0) - h))
    val cooks = r * r / 2.0 * (h / (lit(1.0) - h))
    val ok = col("__n") >= 4 && sxxC > 0 && s2 > 0
    ranked.crossJoin(broadcast(f))
      .select(col("day"), col("__x").as("day_index"),
        round(col("__y").cast("double") / 100.0, 2).as("value"),
        round(when(col("__n") >= 4 && sxxC > 0, h), 6).as("leverage"),
        round(when(ok, e / 100.0), 2).as("residual"),
        round(when(ok && h < 1, r), 6).as("std_resid"),
        round(when(ok && h < 1, cooks), 6).as("cooks_d"),
        when(ok && h < 1, cooks > lit(4.0) / nD).as("influential"))
      .orderBy("day")
  }

  /** Lag-1 Granger-causality screen between the DAILY value series and
    * the DAILY volume series: does yesterday's volume improve today's
    * revenue prediction beyond yesterday's revenue (and vice versa)?
    * One row per direction with the F-statistic of the nested-model
    * comparison (restricted: own lag; unrestricted: own + other lag),
    * both fitted lag coefficients, and the RSS ratio. The lead-lag
    * companion to [[crossCorrelation]] (which sees raw correlation,
    * not incremental predictive value).
    *
    * Determinism: daily revenue rides the centi lattice and volume is
    * a count, so all ten sufficient sums (Σy, Σy², cross-products) are
    * exact decimal folds in any partition order; the centered moments,
    * Cramer solve, and F are ONE fixed double tree per output (scale
    * cancels in F and the ratio). Degenerate series (zero lag variance,
    * singular normal equations, zero residual) surface as NULLs.
    *
    * Plan: one corpus-sized keyed aggregation to the calendar-bounded
    * daily table, one lag window over that bounded frame (the
    * documented global-window class), two 1-row folds.
    */
  def grangerLagOne(df: DataFrame, dateCol: Column,
                    valueCol: String): DataFrame = {
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"),
        count(lit(1)).as("__x"))
    val w = Window.partitionBy().orderBy(col("__d"))
    val lagged = daily
      .withColumn("__y1", lag(col("__y"), 1).over(w))
      .withColumn("__x1", lag(col("__x"), 1).over(w))
      .filter(col("__y1").isNotNull)
      .localCheckpoint(eager = false)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def sums(resp: Column, own: Column, oth: Column, tag: String) =
      lagged.agg(count(lit(1)).as("n_eff"),
        sum(dec(resp)).as("__sy"), sum(dec(own)).as("__s1"),
        sum(dec(oth)).as("__s2"),
        sum(dec(resp) * resp).as("__syy"), sum(dec(resp) * own).as("__sy1"),
        sum(dec(resp) * oth).as("__sy2"), sum(dec(own) * own).as("__s11"),
        sum(dec(own) * oth).as("__s12"), sum(dec(oth) * oth).as("__s22"))
        .withColumn("direction", lit(tag))
    val both = sums(col("__y"), col("__y1"), col("__x1"), "volume->value")
      .unionByName(sums(col("__x"), col("__x1"), col("__y1"),
        "value->volume"))
    val nD = col("n_eff").cast("double")
    def d(c: String) = col(c).cast("double")
    val cyy = d("__syy") - d("__sy") * d("__sy") / nD
    val cy1 = d("__sy1") - d("__sy") * d("__s1") / nD
    val cy2 = d("__sy2") - d("__sy") * d("__s2") / nD
    val c11 = d("__s11") - d("__s1") * d("__s1") / nD
    val c12 = d("__s12") - d("__s1") * d("__s2") / nD
    val c22 = d("__s22") - d("__s2") * d("__s2") / nD
    val rssR = cyy - cy1 * cy1 / c11
    val det = c11 * c22 - c12 * c12
    val b1 = (cy1 * c22 - cy2 * c12) / det
    val b2 = (cy2 * c11 - cy1 * c12) / det
    val rssU = cyy - b1 * cy1 - b2 * cy2
    val ok = col("n_eff") >= 5 && c11 > 0 && det > 0
    both.select(col("direction"), col("n_eff"),
      (col("n_eff") - 3L).as("df2"),
      round(when(ok && rssU > 0,
        (rssR - rssU) / (rssU / (nD - 3.0))), 6).as("f_stat"),
      round(when(ok, b1), 6).as("lag_own_coef"),
      round(when(ok, b2), 6).as("lag_other_coef"),
      round(when(ok && rssU > 0, rssR / rssU), 6).as("rss_ratio"))
      .orderBy("direction")
  }

  /** Chapman capture–recapture estimate: how many entities exist IN
    * TOTAL, given two overlapping observation windows ("we saw 1 200
    * users in week 1, 1 300 in week 2, 900 in both — how big is the
    * real user base?"). The bias-corrected Lincoln–Petersen estimator
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with its closed-form variance and a
    * normal 95% CI — the coverage-estimation primitive for logs with
    * known undercount (crawler reach, dedup-cluster census,
    * observability gaps).
    *
    * Determinism: per-entity window flags are exact max-folds; the
    * three counts are exact longs; N̂/se/CI are one fixed double tree
    * each (z-critical literal shared verbatim).
    *
    * Plan: one entity-grain aggregation + one 1-row fold. No window.
    */
  def chapmanEstimate(df: DataFrame, keyCol: String, inA: Column,
                      inB: Column): DataFrame = {
    val zCrit = 1.959963984540054
    val per = df.groupBy(col(keyCol).as("__k"))
      .agg(max(when(inA, 1L).otherwise(0L)).as("__a"),
        max(when(inB, 1L).otherwise(0L)).as("__b"))
    val f = per.agg(sum(col("__a")).as("n_a"), sum(col("__b")).as("n_b"),
      sum(col("__a") * col("__b")).as("n_both"))
    val n1 = col("n_a").cast("double")
    val n2 = col("n_b").cast("double")
    val m = col("n_both").cast("double")
    val nHat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    val varN = (n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m) /
      ((m + 1.0) * (m + 1.0) * (m + 2.0))
    val ok = col("n_a") >= 1 && col("n_b") >= 1
    f.select(col("n_a"), col("n_b"), col("n_both"),
      round(when(ok, nHat), 6).as("n_hat"),
      round(when(ok && varN >= 0, sqrt(varN)), 6).as("se"),
      round(when(ok && varN >= 0, nHat - lit(zCrit) * sqrt(varN)), 6)
        .as("n_lo"),
      round(when(ok && varN >= 0, nHat + lit(zCrit) * sqrt(varN)), 6)
        .as("n_hi"))
  }

  /** Quadratic trend of the daily series: y on (x, x²) with the nested
    * F-test of curvature against the plain linear fit — "is revenue
    * accelerating, or just rising?" The polynomial sibling of
    * [[grangerLagOne]]'s nested-model machinery (same centered-moment
    * Cramer solve), answering the question [[trendPerKey]]'s straight
    * line can't.
    *
    * Determinism: x is the dense day index (integers), y rides the
    * centi lattice, so all sufficient sums — up to Σx⁴, folded in
    * decimal(38,0) so centuries of days can't overflow — are exact;
    * every output is one fixed double tree. Degenerate series surface
    * as NULLs.
    *
    * Plan: one corpus-sized keyed aggregation to the calendar-bounded
    * daily frame, the dense-index window over that bounded frame, one
    * 1-row fold.
    */
  def quadraticTrend(df: DataFrame, dateCol: Column,
                     valueCol: String): DataFrame = {
    val daily = df.groupBy(dateCol.as("__d"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__y"))
    val ranked = daily.withColumn("__x",
      row_number().over(Window.partitionBy().orderBy(col("__d")))
        .cast("long"))
      .withColumn("__x2", col("__x") * col("__x"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val f = ranked.agg(count(lit(1)).as("n_days"),
      sum(dec(col("__x"))).as("__s1"), sum(dec(col("__x2"))).as("__s2"),
      sum(dec(col("__y"))).as("__sy"),
      sum(dec(col("__x")) * col("__x2")).as("__s3"),
      sum(dec(col("__x2")) * col("__x2")).as("__s4"),
      sum(dec(col("__y")) * col("__x")).as("__sy1"),
      sum(dec(col("__y")) * col("__x2")).as("__sy2"),
      sum(dec(col("__y")) * col("__y")).as("__syy"))
    val nD = col("n_days").cast("double")
    def d(c: String) = col(c).cast("double")
    val cyy = d("__syy") - d("__sy") * d("__sy") / nD
    val cy1 = d("__sy1") - d("__sy") * d("__s1") / nD
    val cy2 = d("__sy2") - d("__sy") * d("__s2") / nD
    val c11 = d("__s2") - d("__s1") * d("__s1") / nD
    val c12 = d("__s3") - d("__s1") * d("__s2") / nD
    val c22 = d("__s4") - d("__s2") * d("__s2") / nD
    val rssR = cyy - cy1 * cy1 / c11
    val det = c11 * c22 - c12 * c12
    val b1 = (cy1 * c22 - cy2 * c12) / det
    val b2 = (cy2 * c11 - cy1 * c12) / det
    val rssU = cyy - b1 * cy1 - b2 * cy2
    val ok = col("n_days") >= 5 && c11 > 0 && det > 0
    val fStat = (rssR - rssU) / (rssU / (nD - 3.0))
    f.select(col("n_days"),
      round(when(ok, cy1 / c11 / 100.0), 6).as("linear_slope"),
      round(when(ok, b1 / 100.0), 6).as("quad_linear_coef"),
      round(when(ok, b2 / 100.0), 6).as("quad_curvature"),
      round(when(ok && rssU > 0, fStat), 6).as("f_curvature"),
      round(when(ok && rssU > 0, rssR / rssU), 6).as("rss_ratio"))
  }

  /** Gini coefficient + Lorenz tail shares of a value's concentration
    * across entities ("do 1% of customers carry half the revenue?") —
    * the skew diagnostic that decides salting/bucketing strategy AND the
    * business-side concentration readout. Uses the rank formula
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over the ascending sort with id
    * tiebreak (deterministic under ties, engine-replayable).
    *
    * Plan: ONE entity-grain aggregation (the corpus-sized stage), then
    * ranks/folds in windows over the ENTITY-grain frame — bounded by the
    * entity count, not the event count. The rank window is a single-task
    * sort of the entity table; at billions of entities switch to the
    * binned-Lorenz approximation (quantile-bin revenues, Gini over the
    * binned distribution — the q_ks_binned exact/binned convention).
    * One output row.
    */
  def giniConcentration(df: DataFrame, entityCol: String,
                        valueCol: String): DataFrame = {
    val per = df.groupBy(col(entityCol).as("__e"))
      .agg(sum(col(valueCol)).as("__x"))
    val asc = Window.partitionBy().orderBy(col("__x"), col("__e"))
    val whole = Window.partitionBy()
    per
      .withColumn("__i", row_number().over(asc).cast("long"))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__t", sum(col("__x")).over(whole))
      .groupBy()
      .agg(max(col("__n")).as("n_entities"),
        round(max(col("__t")), 2).as("total_value"),
        round(lit(2.0) * sum(col("__i") * col("__x")) /
          (max(col("__n")) * max(col("__t"))) -
          (max(col("__n")) + 1L) / max(col("__n")).cast("double"), 6)
          .as("gini"),
        round(sum(when(col("__i") > col("__n") -
            greatest(ceil(col("__n") / lit(100.0)), lit(1.0)).cast("long"),
          col("__x")).otherwise(lit(0.0))) / max(col("__t")), 6)
          .as("top1_pct_share"),
        round(sum(when(col("__i") > col("__n") -
            greatest(ceil(col("__n") / lit(10.0)), lit(1.0)).cast("long"),
          col("__x")).otherwise(lit(0.0))) / max(col("__t")), 6)
          .as("top10_pct_share"))
  }

  /** Per-key exponential-decay fit: OLS of ln(y) on an INTEGER x for
    * every key, reported as the decay rate, the half-life in x units
    * (ln 2 / −rate, NULL unless decaying), and R² — the curve-fit that
    * turns a retention/engagement table into one comparable number per
    * cohort ("this cohort halves every 3.2 weeks"). The log-linear
    * sibling of [[trendPerKey]], with the same exact-sums discipline.
    *
    * Determinism: x is integral, ln(y) commits to the 1e-9 lattice per
    * point, so all six sufficient sums fold exactly in any partition
    * order; slope/half-life/R² are one fixed double tree each (the ln 2
    * literal is injected verbatim into both engines). Keys with fewer
    * than `minPoints` usable points or zero x-variance keep their row
    * with NULL fit columns (full-roster honesty).
    *
    * Plan: one keyed aggregation, map-side combined. No window.
    */
  def expDecayPerKey(df: DataFrame, keyCol: String, xCol: String,
                     yCol: String, minPoints: Int = 3): DataFrame = {
    require(minPoints >= 3,
      s"expDecayPerKey: minPoints >= 3 (got $minPoints)")
    val ln2 = 0.6931471805599453
    val base = df.select(col(keyCol).as("__k"),
        col(xCol).cast("long").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull &&
        col("__y") > 0.0)
      .withColumn("__yl", round(log(col("__y")) * 1e9, 0).cast("long"))
    val per = base.groupBy(col("__k"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__yl")).as("__sy"),
        sum(col("__x") * col("__yl")).as("__sxy"),
        sum(col("__yl").cast("decimal(38,0)") * col("__yl")).as("__syy"))
    val nD = col("n_points").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nD * d("__sxy") - d("__sx") * d("__sy")
    val denX = nD * d("__sxx") - d("__sx") * d("__sx")
    val denY = nD * d("__syy") - d("__sy") * d("__sy")
    val slope = num / denX / 1e9
    val ok = col("n_points") >= minPoints && denX > 0
    per.select(col("__k").as(keyCol), col("n_points"),
      round(when(ok, slope), 6).as("decay_rate"),
      round(when(ok && slope < 0, lit(ln2) / (lit(0.0) - slope)), 6)
        .as("half_life"),
      round(when(ok && denY > 0, num * num / (denX * denY)), 6).as("r2"))
      .orderBy(keyCol)
  }

  /** ICC(1) — one-way random-effects intraclass correlation over an
    * UNBOUNDED grouping (users, sessions, devices): what fraction of a
    * value's variance lives BETWEEN groups? The clustering diagnostic
    * that tells an experimenter whether user-level randomization is
    * mandatory (high ICC ⇒ events within a user are not independent ⇒
    * per-event tests overstate n) and a feature engineer whether a
    * user-level aggregate will carry signal. Unlike [[anovaOneWay]]
    * (declared bounded roster, CASE fold), this aggregates AT the
    * group grain first, so millions of groups are fine.
    *
    * Determinism: values ride the CENTI lattice (coarse on purpose:
    * per-group squared sums stay far inside long range even for
    * million-event groups — the 1e-6 lattice overflows here); each
    * group's between/within contribution commits to an integer BEFORE
    * the group fold, and the group-count-scaled global sums fold in
    * decimal(38,0) so no corpus size overflows them; MSB/MSW/k̄/ICC
    * are one fixed double tree each.
    *
    * Plan: one corpus-sized keyed aggregation (map-side combined) +
    * one fold of the group-grain frame to a single row. No window,
    * no roster, no driver state.
    */
  def iccOneWay(df: DataFrame, groupCol: String,
                valueCol: String): DataFrame = {
    val lat = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
      .withColumn("__vu", round(col("__v") * 1e2, 0).cast("long"))
    val per = lat.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__vu")).as("__s"),
        sum(col("__vu").cast("decimal(38,0)") * col("__vu")).as("__q"))
    val nD = col("__n").cast("double")
    val sD = col("__s").cast("double")
    val terms = per.select(col("__n"),
      round(sD * sD / nD, 0).cast("long").as("__bn"),
      round(col("__q").cast("double") - sD * sD / nD, 0).cast("long")
        .as("__ww"))
    val f = terms.agg(count(lit(1)).as("n_groups"),
      sum(col("__n")).as("n"),
      sum(col("__n") * col("__n")).as("__n2"),
      sum(col("__bn").cast("decimal(38,0)")).as("__sb"),
      sum(col("__ww").cast("decimal(38,0)")).as("__sw"))
    val jD = col("n_groups").cast("double")
    val nT = col("n").cast("double")
    val grand = lat.agg(sum(col("__vu")).as("__st"))
    val out = f.crossJoin(broadcast(grand))
    val ssb = col("__sb").cast("double") -
      col("__st").cast("double") * col("__st") / nT
    val msb = ssb / (jD - 1.0)
    val msw = col("__sw").cast("double") / (nT - jD)
    val kbar = (nT - col("__n2").cast("double") / nT) / (jD - 1.0)
    val den = msb + (kbar - 1.0) * msw
    val ok = col("n_groups") >= 2 && col("n") > col("n_groups")
    out.select(col("n"), col("n_groups"),
      round(when(ok, kbar), 6).as("kbar"),
      round(when(ok, msb / 1e4), 6).as("ms_between"),
      round(when(ok, msw / 1e4), 6).as("ms_within"),
      round(when(ok && den > 0, (msb - msw) / den), 6).as("icc"))
  }

  /** Tukey-HSD post-hoc table: after [[anovaOneWay]] rejects, WHICH
    * group pairs differ? One row per unordered pair with the mean
    * difference, its pooled standard error, the studentized-range
    * statistic q = |Δ|/√(MSW/2·(1/nᵢ+1/nⱼ)), and Hedges-free Cohen's d
    * against the pooled sd — the drill-down that keeps a reader from
    * running k² ad-hoc t-tests. Critical q values are table lookups the
    * engine deliberately does not embed; the statistic is the output.
    *
    * Determinism: identical lattice fold as [[anovaOneWay]] (values on
    * the 1e-6 integer lattice, exact long/decimal sufficient sums);
    * each pair's Δ/se/q/d is one fixed double tree on those longs, and
    * the lattice scale cancels in q and d and is unwound by a single
    * division in the reported difference. Zero-variance slices
    * surface as NULL test columns.
    *
    * Plan: one corpus fold to a single row, then `stack` melts the
    * k·(k−1)/2 pair expressions — all driver-free, all bounded.
    */
  def tukeyHsd(df: DataFrame, groupCol: String, valueCol: String,
               groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 16 &&
      groups.distinct == groups,
      s"tukeyHsd: 2..16 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "tukeyHsd", groups)
    val lat = base.withColumn("__vu",
      round(col("__v") * 1e6, 0).cast("long"))
    val sorted = groups.sorted
    val k = sorted.size
    val aggs = sorted.zipWithIndex.flatMap { case (g, i) =>
      Seq(sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$i"),
        sum(when(col("__g") === g, col("__vu")).otherwise(0L)).as(s"__s$i"),
        sum(when(col("__g") === g,
          col("__vu").cast("decimal(38,0)") * col("__vu"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as(s"__q$i"))
    } :+ count(lit(1)).as("__nt")
    val folded = lat.agg(aggs.head, aggs.tail: _*)
    def nj(i: Int) = col(s"__n$i").cast("double")
    def mj(i: Int) = col(s"__s$i").cast("double") / nj(i)
    def ssw(i: Int) = col(s"__q$i").cast("double") -
      col(s"__s$i").cast("double") * col(s"__s$i") / nj(i)
    val msw = sorted.indices.map(ssw).reduce(_ + _) /
      (col("__nt").cast("double") - k)
    val pairs = for (i <- 0 until k; j <- (i + 1) until k) yield (i, j)
    val pairCols = pairs.zipWithIndex.flatMap { case ((i, j), p) =>
      val diff = mj(i) - mj(j)
      val se = sqrt(msw / 2.0 * (lit(1.0) / nj(i) + lit(1.0) / nj(j)))
      Seq(lit(sorted(i)).as(s"__ga$p"), lit(sorted(j)).as(s"__gb$p"),
        col(s"__n$i").as(s"__na$p"), col(s"__n$j").as(s"__nb$p"),
        round(diff / 1e6, 6).as(s"__d$p"),
        round(when(msw > 0, se / 1e6), 6).as(s"__se$p"),
        round(when(msw > 0, abs(diff) / se), 6).as(s"__q$p"),
        round(when(msw > 0, diff / sqrt(msw)), 6).as(s"__cd$p"))
    }
    val wide = folded.select(pairCols: _*)
    wide.select(expr(pairs.indices
      .map(p => s"__ga$p, __gb$p, __na$p, __nb$p, __d$p, __se$p, " +
        s"__q$p, __cd$p").mkString(s"stack(${pairs.size}, ", ", ", ")")
      + " AS (group_a, group_b, n_a, n_b, mean_diff, se_pooled, " +
      "q_stat, cohens_d)"))
      .orderBy("group_a", "group_b")
  }

  /** Cochran–Armitage trend test: does a BINARY outcome rate rise or
    * fall monotonically across ORDERED integer scores (deciles, age
    * bands, dose tiers)? The ordered-alternative companion to a plain
    * χ² (which ignores order) — strictly more powerful when the
    * question is "does conversion climb with the score", not "does it
    * differ at all". Emits the exact integer trend statistic T = Σs·r,
    * its z under H₀, the χ²₁ trend component, and the per-unit-score
    * proportion slope.
    *
    * Determinism: scores and outcomes are integers, so every
    * sufficient statistic (N, R, Σs·r, Σs·n, Σs²·n) is an exact long
    * fold in any partition order; z/χ²/slope are ONE fixed double tree
    * each on those exact longs. Degenerate slices (constant score, or
    * all/no successes) surface as NULL test columns, never a throw.
    *
    * Plan: one corpus fold to a single row (map-side combined) plus
    * the countDistinct score-roster pass. No window, no join.
    */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      success: Column): DataFrame = {
    val base = df.select(col(scoreCol).cast("long").as("__s"),
        success.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    caClose(base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("successes"),
      countDistinct(col("__s")).as("n_groups"),
      sum(when(col("__y"), col("__s")).otherwise(0L)).as("__t"),
      sum(col("__s")).as("__sn1"),
      sum(col("__s") * col("__s")).as("__sn2")))
  }

  /** [[cochranArmitage]] with scores from FIXED-WIDTH lattice bins of a
    * continuous column — the 100 TB form: the registered exact query
    * scores by ntile deciles, and ntile is a one-partition sort of the
    * entity grain (the decisionStump escape, implemented here the same
    * way). Fixed-width bins need only the 1-row integer-bounds
    * broadcast; the trend statistic is then CA over a value-uniform
    * score instead of a mass-uniform one — the histogram-split trade,
    * stated. One corpus pass (per-lattice-value sufficient counts
    * first), everything after at the distinct/bin grain.
    */
  def cochranArmitageBinned(df: DataFrame, valueCol: String,
                            success: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100000,
      s"cochranArmitageBinned: bins in [2, 100000] (got $bins)")
    val v = col(valueCol).cast("double")
    val base = df.select(v.as("__f"), success.cast("boolean").as("__y"))
      .filter(v.isNotNull && !isnan(v) && success.isNotNull)
    val perVal = base
      .groupBy(round(col("__f") * 100, 0).cast("long").as("__v"))
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__succ"))
    val bounds = perVal.agg(min(col("__v")).as("__lo"),
      max(col("__v")).as("__hi"))
    val perBin = perVal.crossJoin(broadcast(bounds))
      .withColumn("__s",
        expr(s"((__v - __lo) * $bins) div (__hi - __lo + 1)"))
      .groupBy(col("__s"))
      .agg(sum(col("__cnt")).as("__cnt"), sum(col("__succ")).as("__succ"))
    caClose(perBin.agg(
      coalesce(sum(col("__cnt")), lit(0L)).as("n"),
      coalesce(sum(col("__succ")), lit(0L)).as("successes"),
      count(lit(1)).as("n_groups"),
      coalesce(sum(col("__succ") * col("__s")), lit(0L)).as("__t"),
      coalesce(sum(col("__cnt") * col("__s")), lit(0L)).as("__sn1"),
      coalesce(sum(col("__cnt") * col("__s") * col("__s")), lit(0L))
        .as("__sn2")))
  }

  /** Shared Cochran–Armitage close over the six sufficient statistics
    * (exact integers in; one fixed double tree out). */
  private def caClose(f: DataFrame): DataFrame = {
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val tD = col("__t").cast("double")
    val e = p * col("__sn1").cast("double")
    val sxx = col("__sn2").cast("double") -
      col("__sn1").cast("double") * col("__sn1") / nD
    val varT = p * (lit(1.0) - p) * sxx
    f.select(col("n"), col("successes"), col("n_groups"),
      col("__t").as("t_stat"),
      round(when(varT > 0, (tD - e) / sqrt(varT)), 6).as("z"),
      round(when(varT > 0, (tD - e) * (tD - e) / varT), 6)
        .as("chi2_trend"),
      round(when(sxx > 0, (tD - e) / sxx), 6).as("prop_slope"))
  }

  /** Herfindahl–Hirschman concentration per MARKET: HHI = Σ shareᵢ² of
    * each entity's value share within its market, with the
    * effective-competitor count 1/HHI and the leader's share — the
    * per-market companion to [[giniConcentration]]'s single global
    * number ("which nations' supply is a de-facto monopoly?"). The same
    * readout doubles as a partition-skew screen with market=shuffle-key
    * grain (HHI→1 means one entity owns the partition).
    *
    * Determinism: values commit to the centi lattice at the row grain
    * (one fixed double tree per row, identical in any engine), so
    * entity and market sums are exact longs; each share² term commits
    * to the 1e-12 lattice before the per-market fold, making HHI exact
    * long addition in any partition order.
    *
    * Plan: one (market, entity)-grain aggregation (the corpus-sized
    * stage, map-side combined), one market-partitioned window over the
    * ENTITY-grain frame, one market-grain fold. Never a global window;
    * output is one row per market.
    */
  def herfindahl(df: DataFrame, marketCol: String, entityCol: String,
                 valueCol: String): DataFrame = {
    val per = df.select(col(marketCol).as("__m"), col(entityCol).as("__e"),
        round(col(valueCol) * 100, 0).cast("long").as("__vu"))
      .filter(col("__m").isNotNull && col("__e").isNotNull)
      .groupBy(col("__m"), col("__e")).agg(sum(col("__vu")).as("__x"))
      .filter(col("__x") > 0)
    val wm = Window.partitionBy(col("__m"))
    val terms = per.withColumn("__t", sum(col("__x")).over(wm))
      .withColumn("__sh",
        col("__x").cast("double") / col("__t").cast("double"))
      .withColumn("__h",
        round(col("__sh") * col("__sh") * 1e12, 0).cast("long"))
    terms.groupBy(col("__m").as("market"))
      .agg(count(lit(1)).as("n_entities"),
        round(max(col("__t")).cast("double") / 100.0, 2).as("market_value"),
        round(sum(col("__h")).cast("double") / 1e12, 6).as("hhi"),
        round(lit(1e12) / sum(col("__h")).cast("double"), 6)
          .as("effective_n"),
        round(max(col("__sh")), 6).as("top_share"))
      .orderBy("market")
  }

  /** Theil T inequality decomposition: how much of the value
    * concentration across entities is BETWEEN the declared groups
    * (nations, segments) vs WITHIN them — the additive split
    * T = T_between + Σ share_g·T_g that [[giniConcentration]] (not
    * decomposable) and [[herfindahl]] (per-market only) can't give.
    * One row per group: its entity count, value share, mean ratio, own
    * within-group Theil, and its two contribution terms, with the three
    * repeated totals (the psi/modularity output shape).
    *
    * Zero/negative entity totals are excluded (ln domain — the standard
    * Theil convention); the reported n is the post-filter roster.
    *
    * Determinism: entity values ride the centi lattice (exact long
    * sums at entity, group, and corpus grain); each entity's
    * (x/μ_g)·ln(x/μ_g) term and each group's between/within
    * contribution commit to the 1e-12 lattice BEFORE their folds, so
    * every sum is exact long addition in any partition order and
    * theil_total is exactly theil_between + theil_within by
    * construction.
    *
    * Plan: one (group, entity)-grain aggregation (the corpus-sized
    * stage), one group-grain aggregation of committed terms, one
    * broadcast of the 1-row corpus totals and one of the bounded
    * group-term fold. No global window over unbounded data.
    */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         entityCol: String, valueCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("__g"), col(entityCol).as("__e"),
        round(col(valueCol) * 100, 0).cast("long").as("__vu"))
      .filter(col("__g").isNotNull && col("__e").isNotNull)
      .groupBy(col("__g"), col("__e")).agg(sum(col("__vu")).as("__x"))
      .filter(col("__x") > 0)
      .localCheckpoint(eager = false)
    val gs = per.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ng"), sum(col("__x")).as("__sg"))
    val muG = col("__sg").cast("double") / col("__ng").cast("double")
    val ratio = col("__x").cast("double") / muG
    val within = per.join(broadcast(gs), Seq("__g"))
      .withColumn("__ti",
        round(ratio * log(ratio) * 1e12, 0).cast("long"))
      .groupBy(col("__g")).agg(sum(col("__ti")).as("__tw"))
    val tot = per.agg(count(lit(1)).as("__n"), sum(col("__x")).as("__t"))
    val nD = col("__n").cast("double")
    val tD = col("__t").cast("double")
    val ngD = col("__ng").cast("double")
    val muRatio = muG / (tD / nD)
    val theilG = col("__tw").cast("double") / 1e12 / ngD
    val terms = gs.join(within, Seq("__g")).crossJoin(broadcast(tot))
      .withColumn("__bt",
        round(ngD / nD * muRatio * log(muRatio) * 1e12, 0).cast("long"))
      .withColumn("__wt",
        round(ngD / nD * muRatio * theilG * 1e12, 0).cast("long"))
    val totals = terms.agg(sum(col("__bt")).as("__b"),
      sum(col("__wt")).as("__w"))
    terms.crossJoin(broadcast(totals))
      .select(col("__g").as("group"),
        col("__ng").as("n_entities"),
        round(col("__sg").cast("double") / tD, 6).as("value_share"),
        round(muRatio, 6).as("mean_ratio"),
        round(theilG, 6).as("theil_within_group"),
        round(col("__bt").cast("double") / 1e12, 6).as("between_term"),
        round(col("__wt").cast("double") / 1e12, 6).as("within_term"),
        round(col("__b").cast("double") / 1e12, 6).as("theil_between"),
        round(col("__w").cast("double") / 1e12, 6).as("theil_within"),
        round((col("__b") + col("__w")).cast("double") / 1e12, 6)
          .as("theil_total"))
      .orderBy("group")
  }

  /** Lorenz-curve decile table: cumulative entity share vs cumulative
    * value share per value-ordered decile — the full concentration
    * CURVE behind [[giniConcentration]]'s single number ("the bottom
    * 50% of customers carry 9% of revenue; the top decile carries
    * 41%"), with each decile's gap to the equality diagonal.
    *
    * Determinism: entity values ride the centi lattice (exact sums);
    * decile assignment is ntile over the (value, entity) total order
    * (exact, engine-replayable); cumulative folds run over the BOUNDED
    * decile frame; shares are one fixed double tree each.
    *
    * Plan: one entity-grain aggregation, the entity-grain ntile sort
    * (the giniConcentration global-sort class), then ≤`deciles`-row
    * windows. Output is one row per decile.
    */
  def lorenzCurve(df: DataFrame, entityCol: String, valueCol: String,
                  deciles: Int = 10): DataFrame = {
    require(deciles >= 2 && deciles <= 100,
      s"lorenzCurve: deciles in [2, 100] (got $deciles)")
    val per = df.groupBy(col(entityCol).as("__e"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__x"))
    val binned = per.withColumn("__d",
      ntile(deciles).over(Window.orderBy(col("__x"), col("__e"))))
    val agg0 = binned.groupBy(col("__d"))
      .agg(count(lit(1)).as("n_entities"), sum(col("__x")).as("__v"))
    val wCum = Window.orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val nD = sum(col("n_entities")).over(all).cast("double")
    val tD = sum(col("__v")).over(all).cast("double")
    agg0
      .withColumn("__cn", sum(col("n_entities")).over(wCum))
      .withColumn("__cv", sum(col("__v")).over(wCum))
      .select(col("__d").as("decile"), col("n_entities"),
        round(col("__v").cast("double") / 100.0, 2).as("decile_value"),
        round(col("__cn").cast("double") / nD, 6).as("cum_entity_share"),
        round(col("__cv").cast("double") / tD, 6).as("cum_value_share"),
        round(col("__cn").cast("double") / nD -
          col("__cv").cast("double") / tD, 6).as("equality_gap"))
      .orderBy("decile")
  }

  /** Per-group conversion rate with the WILSON score interval — the
    * small-n-honest confidence bound a dashboard should show instead of
    * the normal-approximation ±z·se (which collapses to a zero-width or
    * out-of-[0,1] interval at low counts). One row per group: users,
    * conversions, point rate, Wilson lo/hi/width at the given z.
    *
    * Determinism: n and k are exact longs from a user-grain max-fold
    * (any number of events per user collapses to one 0/1); every double
    * then flows through ONE fixed expression tree (z and z² are shared
    * literals the oracle generator interpolates verbatim — the tau²
    * lesson), so both engines compute identical IEEE results before the
    * 6-decimal display round.
    *
    * Plan: one user-grain aggregation (map-side combined), one
    * group-grain aggregation, zero windows — fully scalable.
    */
  def wilsonIntervals(df: DataFrame, groupCol: Column, userCol: String,
                      isConv: Column,
                      z: Double = 1.959963984540054): DataFrame = {
    require(z > 0.0, s"wilsonIntervals: z > 0 (got $z)")
    val z2 = z * z
    val users = df.groupBy(groupCol.as("segment"), col(userCol))
      .agg(max(isConv.cast("int")).as("__conv"))
    val per = users.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__conv")).cast("long").as("n_converted"))
    val nD = col("n_users").cast("double")
    val pHat = col("n_converted").cast("double") / nD
    val denom = lit(1.0) + lit(z2) / nD
    val center = (pHat + lit(z2) / (lit(2.0) * nD)) / denom
    val half = lit(z) *
      sqrt((pHat * (lit(1.0) - pHat) + lit(z2) / (lit(4.0) * nD)) / nD) /
      denom
    per.select(col("segment"), col("n_users"), col("n_converted"),
        round(pHat, 6).as("rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"),
        round((center + half) - (center - half), 6).as("wilson_width"))
      .orderBy("segment")
  }

  /** Inequality ratio table over per-entity value sums — the standard
    * distribution summary next to [[giniConcentration]]'s single number
    * and [[lorenzCurve]]'s full curve: bottom-50% / top-10% / top-1%
    * value shares, the Palma ratio (top-10% value over bottom-40%
    * value) and the S80/S20 quintile ratio, one output row.
    *
    * Determinism: entity values ride the centi lattice (exact long
    * sums); rank cutoffs are exact integer floor-divisions of the
    * entity count (`(4·n) div 10` etc. — identical on both engines);
    * ranks come from `row_number` over the (value, entity) total order;
    * shares and ratios are fixed double trees over exact sums.
    *
    * Plan: one entity-grain aggregation, one entity-grain global window
    * (the documented giniConcentration global-sort class — entity grain,
    * not corpus grain), one single-row fold.
    */
  def inequalityRatios(df: DataFrame, entityCol: String,
                       valueCol: String): DataFrame = {
    val per = df.groupBy(col(entityCol).as("__e"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__x"))
    val all = Window.partitionBy()
    val ranked = per
      .withColumn("__rn", row_number()
        .over(Window.orderBy(col("__x"), col("__e"))))
      .withColumn("__n", count(lit(1)).over(all))
    def below(tenths: Int) =
      col("__rn") <= expr(s"($tenths * __n) div 10")
    def above(tenths: Int) =
      col("__rn") > expr(s"($tenths * __n) div 10")
    val f = ranked.groupBy().agg(
      max(col("__n")).as("n_entities"),
      sum(col("__x")).as("__tot"),
      coalesce(sum(when(below(5), col("__x"))), lit(0L)).as("__b50"),
      coalesce(sum(when(below(4), col("__x"))), lit(0L)).as("__b40"),
      coalesce(sum(when(below(2), col("__x"))), lit(0L)).as("__b20"),
      coalesce(sum(when(above(9), col("__x"))), lit(0L)).as("__t10"),
      coalesce(sum(when(above(8), col("__x"))), lit(0L)).as("__t20"),
      coalesce(sum(when(col("__rn") > expr("(99 * __n) div 100"),
        col("__x"))), lit(0L)).as("__t01"))
    def d(c: String) = col(c).cast("double")
    val totD = d("__tot")
    f.select(col("n_entities"),
      round(totD / 100.0, 2).as("total_value"),
      round(d("__b50") / totD, 6).as("bottom50_share"),
      round(d("__t10") / totD, 6).as("top10_share"),
      round(d("__t01") / totD, 6).as("top1_share"),
      round(when(col("__b40") > 0, d("__t10") / d("__b40")), 6)
        .as("palma_ratio"),
      round(when(col("__b20") > 0, d("__t20") / d("__b20")), 6)
        .as("s80s20_ratio"))
  }

  /** [[inequalityRatios]] over FIXED-WIDTH lattice bins of the entity
    * totals — the billions-of-entities form: the exact op ranks every
    * entity under one global `row_number` (a one-partition sort of the
    * entity grain — fine for suppliers/customers, the documented
    * escape for user-grain corpora). Here entity totals bin on the
    * integer lattice (1-row bounds broadcast), the Lorenz cumulative
    * runs over ≤ `bins` rows, and each quantile share takes WHOLE bins
    * while the cumulative ENTITY count stays ≤ the exact op's
    * `(k·n) div 10` cutoff — a deterministic under-approximation whose
    * error is bounded by the crossing bin's value mass (StatsSpec pins
    * it; top shares are correspondingly over-approximated, the
    * conservative direction for a concentration alarm).
    */
  def inequalityRatiosBinned(df: DataFrame, entityCol: String,
                             valueCol: String,
                             bins: Int = 1000): DataFrame = {
    require(bins >= 2 && bins <= 100000,
      s"inequalityRatiosBinned: bins in [2, 100000] (got $bins)")
    val per = df.groupBy(col(entityCol).as("__e"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")).as("__x"))
    val bounds = per.agg(min(col("__x")).as("__lo"),
      max(col("__x")).as("__hi"))
    val perBin = per.crossJoin(broadcast(bounds))
      .withColumn("__b",
        expr(s"((__x - __lo) * $bins) div (__hi - __lo + 1)"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__x")).as("__v"))
    val ord = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val cum = perBin
      .withColumn("__ccnt", sum(col("__cnt")).over(ord))
      .withColumn("__cval", sum(col("__v")).over(ord))
      .withColumn("__n", sum(col("__cnt")).over(all))
    def below(tenths: Int) =
      col("__ccnt") <= expr(s"($tenths * __n) div 10")
    val f = cum.groupBy().agg(
      max(col("__n")).as("n_entities"),
      sum(col("__v")).as("__tot"),
      coalesce(max(when(below(5), col("__cval"))), lit(0L)).as("__b50"),
      coalesce(max(when(below(4), col("__cval"))), lit(0L)).as("__b40"),
      coalesce(max(when(below(2), col("__cval"))), lit(0L)).as("__b20"),
      coalesce(max(when(below(9), col("__cval"))), lit(0L)).as("__b90"),
      coalesce(max(when(below(8), col("__cval"))), lit(0L)).as("__b80"),
      coalesce(max(when(col("__ccnt") <= expr("(99 * __n) div 100"),
        col("__cval"))), lit(0L)).as("__b99"))
    def d(c: String) = col(c).cast("double")
    val totD = d("__tot")
    f.select(col("n_entities"),
      round(totD / 100.0, 2).as("total_value"),
      round(d("__b50") / totD, 6).as("bottom50_share"),
      round((totD - d("__b90")) / totD, 6).as("top10_share"),
      round((totD - d("__b99")) / totD, 6).as("top1_share"),
      round(when(col("__b40") > 0, (totD - d("__b90")) / d("__b40")), 6)
        .as("palma_ratio"),
      round(when(col("__b20") > 0, (totD - d("__b80")) / d("__b20")), 6)
        .as("s80s20_ratio"))
  }

  /** Per-key ordinary-least-squares trend: slope / intercept / R² of y
    * over x from PLAIN sufficient sums (n, Σx, Σy, Σxy, Σx², Σy²) in ONE
    * map-side-combined aggregation — the per-entity trend screen ("is
    * this user's spend rising?") that needs no window, no sort, and no
    * ML runtime. Deliberately NOT the built-in `regr_*` aggregates:
    * their shifted/updating co-moment algorithms differ across engines
    * at ~1e-8, which flakes a 6-decimal oracle; the explicit closed form
    * over plain sums — with an INTEGER x so `n·Σx² − (Σx)²` is exact —
    * is reproducible bit-for-bit by any SQL engine writing the same
    * expression tree. x must be an integer column of modest magnitude
    * (a day/index number, not epoch millis): the integer denominator
    * products must not overflow a long. Keys with fewer than `minPoints`
    * observations or zero x-variance report NULLs rather than being
    * dropped, so the output stays a full entity roster.
    */
  def trendPerKey(df: DataFrame, keyCol: String, xCol: String,
                  yCol: String, minPoints: Int = 2,
                  exact: Boolean = false): DataFrame = {
    require(minPoints >= 2, s"trendPerKey: minPoints >= 2 (got $minPoints)")
    // exact=true pins the determinism contract in the API instead of in
    // call-site folklore: a DOUBLE y makes Σy/Σxy/Σy² accumulation-order
    // dependent (the r7 q_trend_per_key 6th-decimal flake), and the fix —
    // put y on an integer lattice first — kept getting rediscovered per
    // caller. Under exact mode a non-integral x or y fails loud at plan
    // time with the lattice recipe in the message.
    if (exact) {
      import org.apache.spark.sql.types._
      def check(c: String): Unit = df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
        case d: DecimalType if d.scale == 0 =>
        case other => throw new IllegalArgumentException(
          s"trendPerKey(exact=true): column '$c' must be integral (got " +
          s"${other.simpleString}); put doubles on an integer lattice " +
          """first, e.g. round(v * 100).cast("long"), so every """ +
          "sufficient sum is exact in any accumulation order")
      }
      check(xCol); check(yCol)
    }
    val agged = df.groupBy(col(keyCol)).agg(
      count(col(xCol)).as("__n"),
      sum(col(xCol)).as("__sx"),
      sum(col(yCol)).as("__sy"),
      sum(col(xCol) * col(yCol)).as("__sxy"),
      sum(col(xCol) * col(xCol)).as("__sxx"),
      sum(col(yCol) * col(yCol)).as("__syy"))
    val n = col("__n"); val sx = col("__sx"); val sy = col("__sy")
    val sxy = col("__sxy"); val sxx = col("__sxx"); val syy = col("__syy")
    val denX = n * sxx - sx * sx          // integer-exact on both engines
    val num = n * sxy - sx * sy
    val denY = n * syy - sy * sy
    val keep = n >= minPoints && denX =!= 0
    // r² squares two co-moment terms; with long-lattice y those squares
    // can exceed Long range even when every SUFFICIENT sum fits (num ~
    // n·Σxy can reach 1e12, num² 1e24) — under ANSI that is a runtime
    // abort, not a wrong answer. Square in DOUBLE: the inputs are the
    // exact integer sums (< 2^53, bit-identical in any engine), and the
    // double product of identical doubles is IEEE-identical, so the
    // 6-decimal oracle contract holds while the overflow cliff vanishes.
    val numD = num.cast("double"); val dxD = denX.cast("double")
    val dyD = denY.cast("double")
    agged
      .select(col(keyCol), n.as("n_points"),
        round(when(keep, num / denX), 6).as("slope"),
        round(when(keep, (sy * sxx - sx * sxy) / denX), 6).as("intercept"),
        round(when(keep && denY > 0, (numD * numD) / (dxD * dyD)), 6)
          .as("r2"))
      .orderBy(keyCol)
  }

  /** Deterministic Poisson bootstrap CI for a mean (one row): each row
    * enters replicate `b` with weight ~ Poisson(1) — the n→∞ limit of
    * multinomial resampling and THE distributed bootstrap (each row's
    * weight depends only on (row id, b), so no global coordination, no
    * sampling pass per replicate). The weight comes from the shared
    * deterministic u01 hash ([[Gen.u01]] arithmetic with the replicate
    * index as the channel), inverted through the exact Poisson(1) CDF
    * thresholds — both engines draw the identical resamples, making the
    * CI oracle-exact, not merely statistically similar.
    *
    * Scale shape: the ×B explode is map-side (no pre-shuffle); the only
    * shuffle carries B×partitions partial sums (map-side combined), and
    * the quantile fold runs over the bounded B-row replicate-mean frame.
    * B is the accuracy knob (SE of the quantile estimate ~ 1/√B).
    */
  def bootstrapCI(df: DataFrame, idCol: String, valueCol: String,
                  reps: Int = 200, lo: Double = 0.025,
                  hi: Double = 0.975): DataFrame = {
    require(reps >= 10 && reps <= 10000,
      s"bootstrapCI: reps in [10, 10000] (got $reps)")
    require(lo > 0.0 && lo < hi && hi < 1.0,
      s"bootstrapCI: 0 < lo < hi < 1 (got $lo, $hi)")
    val M = 2147483647L
    val base = df.select(col(idCol).cast("long").as("__id"),
      col(valueCol).cast("double").as("__v"))
    val point = base.agg(count(lit(1)).cast("long").as("n_rows"),
      round(sum(col("__v")) / count(lit(1)), 6).as("point_mean"))
    val rep = base
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      // NOT the two-step Lehmer u01: linear congruential steps are too
      // EQUIDISTRIBUTED over lattice-like sequential ids — per-replicate
      // Poisson bucket counts barely fluctuate and the bootstrap variance
      // collapses ~4x (observed). Two interleaved SQUARING rounds
      // (quadratic congruential) break the lattice; all intermediates
      // stay < 2^62, overflow-free in both engines' BIGINT math.
      .withColumn("__u", {
        val h1 = (col("__id") + col("__b").cast("long") * lit(1000003L)) % M
        val h2 = (h1 * h1 % M + lit(12345L)) % M
        val h3 = (h2 * 48271L) % M
        val h4 = (h3 * h3) % M
        (h4 + lit(1L)).cast("double") / M.toDouble
      })
      .withColumn("__w", // exact Poisson(1) CDF inversion
        when(col("__u") <= 0.36787944117144233, 0)
          .when(col("__u") <= 0.7357588823428847, 1)
          .when(col("__u") <= 0.9196986029286058, 2)
          .when(col("__u") <= 0.9810118431238462, 3)
          .when(col("__u") <= 0.9963401531726563, 4)
          .when(col("__u") <= 0.9994058151824183, 5)
          .when(col("__u") <= 0.9999167588507642, 6)
          .otherwise(7))
    val means = rep.groupBy(col("__b"))
      .agg((sum(col("__w") * col("__v")) /
        when(sum(col("__w")) =!= 0, sum(col("__w")))).as("__mu"))
    val ci = means.agg(
      round(percentile(col("__mu"), lit(lo)), 6).as("ci_lo"),
      round(percentile(col("__mu"), lit(hi)), 6).as("ci_hi"),
      round(stddev(col("__mu")), 6).as("boot_se"),
      count(col("__mu")).cast("long").as("n_reps"))
    point.crossJoin(broadcast(ci))
      .select(col("n_rows"), col("point_mean"), col("n_reps"),
        col("ci_lo"), col("ci_hi"), col("boot_se"))
  }

  /** Theil–Sen robust trend per key: slope = MEDIAN of all pairwise
    * slopes (yⱼ−yᵢ)/(xⱼ−xᵢ) over xᵢ < xⱼ, intercept = median of
    * (yᵢ − slope·xᵢ) — the estimator that shrugs off up to ~29% arbitrary
    * outliers where [[trendPerKey]]'s OLS line chases a single corrupted
    * point (the MAD-vs-stddev trade, applied to trends).
    *
    * Pair space is quadratic PER KEY, so the same fail-loud posture as
    * `basketRules`: a key beyond `maxPoints` observations raises inside
    * the pair join's input column (never prunable) instead of silently
    * detonating — downsample per key first, then raise the knob. The
    * pair self-join is an equi-join on the key; medians are exact
    * percentiles grouped per key (interpolating, both engines type-7),
    * slopes pre-rounded at 9 so the median interpolates identical values
    * cross-engine.
    */
  def theilSenPerKey(df: DataFrame, keyCol: String, xCol: String,
                     yCol: String, maxPoints: Int = 2000): DataFrame = {
    require(maxPoints >= 2, s"theilSenPerKey: maxPoints >= 2 (got $maxPoints)")
    val pts0 = df.select(col(keyCol).as("__k"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
    val pts = pts0
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__x",
        when(col("__cnt") <= maxPoints, col("__x"))
          .otherwise(raise_error(concat(
            lit(s"theilSenPerKey: key over $maxPoints points (pair space " +
              "is quadratic per key); downsample per key first: "),
            col("__k").cast("string")))))
      .drop("__cnt")
    val slopes = pts.as("a").join(pts.as("b"),
        col("a.__k") === col("b.__k") && col("a.__x") < col("b.__x"))
      .select(col("a.__k").as("__k"),
        round((col("b.__y") - col("a.__y")) / (col("b.__x") - col("a.__x")),
          9).as("__slope"))
    val slopeMed = slopes.groupBy(col("__k"))
      .agg(expr("percentile(__slope, 0.5)").as("__m"),
        count(lit(1)).cast("long").as("n_pairs"))
    // left join: a key with no x-distinct pair keeps its roster row with
    // NULL slope/intercept (the trendPerKey full-roster contract)
    pts
      .join(slopeMed, Seq("__k"), "left")
      .groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).cast("long").as("n_points"),
        coalesce(min(col("n_pairs")), lit(0L)).as("n_pairs"),
        round(min(col("__m")), 6).as("slope"),
        round(expr("percentile(__y - __m * __x, 0.5)"), 6).as("intercept"))
      .orderBy(keyCol)
  }

  /** Probit Φ⁻¹(p) — Acklam's rational approximation (|ε| < 1.15e-9
    * over (0,1)), evaluated as ONE fixed arithmetic tree (two Horner
    * chains per region, region picked by CASE) so Spark and DuckDB
    * produce bit-identical doubles from identical p. This is what lets
    * rank statistics with NORMAL SCORES ([[vanDerWaerden]],
    * [[flignerKilleen]]) keep the exact-replay oracle contract: the
    * score is a pure function both engines spell the same way.
    * Out-of-range p (≤0 or ≥1) → NULL, never ±∞.
    */
  private[ops] def probit(p: Column): Column = {
    val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Seq(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    def horner(cs: Seq[Double], x: Column): Column =
      cs.tail.foldLeft(lit(cs.head): Column)((acc, k) => acc * x + k)
    val pLow = 0.02425
    val qc = p - 0.5
    val rc = qc * qc
    val central = horner(a, rc) * qc / (horner(b, rc) * rc + 1.0)
    val qlo = sqrt(lit(-2.0) * log(p))
    val lower = horner(c, qlo) / (horner(d, qlo) * qlo + 1.0)
    val qhi = sqrt(lit(-2.0) * log(lit(1.0) - p))
    val upper = -(horner(c, qhi) / (horner(d, qhi) * qhi + 1.0))
    when(p > 0 && p < pLow, lower)
      .when(p >= pLow && p <= 1.0 - pLow, central)
      .when(p < 1.0 && p > 1.0 - pLow, upper)
  }

  /** Bartlett's test for equal variances across DECLARED groups — the
    * parametric rung of the dispersion ladder ([[brownForsythe]] is its
    * robust sibling, [[ansariBradley]] the rank one): maximum power when
    * the groups really are normal, famously oversensitive when they are
    * not, which is exactly why all three are registered side by side.
    *
    * Determinism: values commit to the 1e-6 integer lattice once, so
    * every per-group sufficient statistic (nⱼ, Σv, Σv²) is an exact
    * long/decimal fold in any partition order. The statistic
    * T = [(N−k)·ln s_p² − Σ(nⱼ−1)·ln sⱼ²] / C is evaluated on
    * LATTICE-scaled variances: the ln(1e12) scale offsets cancel exactly
    * because Σ(nⱼ−1) = N−k, and both engines replay the identical double
    * tree, so the float-level cancellation is bit-identical too.
    * Degenerate slices (a group with n<2 or zero variance) surface as a
    * NULL statistic, never a throw.
    *
    * Plan: one corpus fold to a single row (map-side combined CASE
    * aggregates over the declared roster) — the [[anovaOneWay]] class;
    * no shuffle beyond the 1-row combine, no window.
    */
  def bartlett(df: DataFrame, groupCol: String, valueCol: String,
               groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"bartlett: 2..32 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "bartlett", groups)
    val lat = base.withColumn("__vu",
      round(col("__v") * 1e6, 0).cast("long"))
    val sorted = groups.sorted
    val k = sorted.size
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val aggs = sorted.zipWithIndex.flatMap { case (g, i) =>
      Seq(sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$i"),
        sum(when(col("__g") === g, col("__vu")).otherwise(0L)).as(s"__s$i"),
        sum(when(col("__g") === g, dec(col("__vu")) * col("__vu"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as(s"__q$i"))
    } :+ count(lit(1)).as("n")
    val folded = lat.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    def nj(i: Int) = col(s"__n$i").cast("double")
    def ssw(i: Int) = col(s"__q$i").cast("double") -
      col(s"__s$i").cast("double") * col(s"__s$i") / nj(i)
    def s2(i: Int) = ssw(i) / (nj(i) - 1.0)
    val sswAll = sorted.indices.map(ssw).reduce(_ + _)
    val sp2 = sswAll / (nD - k)
    val lnTerm = (nD - k) * log(sp2) -
      sorted.indices.map(i => (nj(i) - 1.0) * log(s2(i))).reduce(_ + _)
    val cFac = lit(1.0) +
      (sorted.indices.map(i => lit(1.0) / (nj(i) - 1.0)).reduce(_ + _) -
        lit(1.0) / (nD - k)) / lit(3.0 * (k - 1))
    val ok = sorted.indices
      .map(i => col(s"__n$i") >= 2L && ssw(i) > 0).reduce(_ && _)
    folded.select((Seq(col("n")) ++
      sorted.zipWithIndex.map { case (g, i) => col(s"__n$i").as(s"n_$g") } ++
      Seq(round(when(ok, lnTerm / cFac), 6).as("bartlett_t"),
        lit(k - 1).as("df"),
        round(when(ok, cFac), 6).as("c_factor"),
        round(when(ok, sp2 / 1e12), 6).as("pooled_var"))): _*)
  }

  /** Van der Waerden normal-scores test across DECLARED groups — the
    * rank ANOVA that transforms midranks to NORMAL scores
    * s(v) = Φ⁻¹(r/(n+1)) before folding, recovering near-parametric
    * power when the data really are normal while keeping rank
    * robustness ([[kruskalWallis]] keeps raw ranks and pays power for
    * it). T = Σⱼ Sⱼ²/nⱼ / s² ~ χ²(k−1), s² = Σs²/(n−1).
    *
    * Determinism: midranks are the exact integer 2×-ranks of
    * [[kruskalWallis]]; each distinct value's normal score is the
    * [[probit]] fixed tree (bit-identical in both engines) committed
    * to the 1e-6 lattice, so every downstream sum is an exact
    * long/decimal fold and T is one fixed double tree in which the
    * lattice scale cancels. On a continuous (data-sized) axis use
    * [[vanDerWaerdenBinned]] — the [[kruskalWallisBinned]] contract.
    *
    * Plan: one corpus pass to per-value counts, the bounded
    * distinct-grain window, one fold, one row.
    */
  def vanDerWaerden(df: DataFrame, groupCol: String, valueCol: String,
                    groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"vanDerWaerden: 2..32 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "vanDerWaerden", groups)
    val perValAggs = groups.sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    val perVal = base.groupBy(col("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    vdwFold(perVal, groups)
  }

  /** [[vanDerWaerden]] over [[Drift.latticeBin]]-coarsened values (the
    * [[kruskalWallisBinned]] 100 TB contract: bin-grain midranks,
    * within-one-bin score relocation, identical fold). */
  def vanDerWaerdenBinned(df: DataFrame, groupCol: String,
                          valueCol: String, groups: Seq[String],
                          bins: Int = 1000): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"vanDerWaerdenBinned: 2..32 distinct declared groups " +
        s"(got $groups)")
    val v = col(valueCol).cast("double")
    val base = df.select(col(groupCol).as("__g"), v.as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v")))
    checkRoster(base, "vanDerWaerdenBinned", groups)
    val perValAggs = groups.sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i") }
    val perVal = base
      .groupBy(round(col("__v") * 100, 0).cast("long").as("__v"))
      .agg(perValAggs.head, perValAggs.tail: _*)
    vdwFold(Drift.binCounts(perVal, bins,
        groups.indices.map(i => s"__c$i"))
      .select((col("__bin").cast("double").as("__v") +:
        groups.indices.map(i => col(s"__c$i"))): _*), groups)
  }

  /** Van der Waerden close over the [[kwFold]] input frame: probit of
    * the midrank fraction, 1e-6 lattice commit, exact group folds. */
  private def vdwFold(perVal: DataFrame, groups: Seq[String]): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sorted = groups.sorted
    val withN = perVal.withColumn("__n",
      groups.indices.map(i => col(s"__c$i")).reduce(_ + _))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = withN
      .withColumn("__r2",
        lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
          + col("__n") + lit(1L))
      .withColumn("__wtot", sum(col("__n")).over(Window.partitionBy()))
      .withColumn("__s", round(probit(
        col("__r2").cast("double") /
          (lit(2.0) * (col("__wtot").cast("double") + 1.0))) * 1e6, 0)
        .cast("long"))
    val aggs = groups.indices.flatMap { i =>
      Seq(coalesce(sum(col(s"__c$i")), lit(0L)).as(s"__n$i"),
        coalesce(sum(dec(col(s"__c$i")) * col("__s")),
          lit(0L).cast("decimal(38,0)")).as(s"__a$i"))
    } ++ Seq(coalesce(sum(col("__n")), lit(0L)).as("n"),
      coalesce(sum(dec(col("__n")) * col("__s") * col("__s")),
        lit(0L).cast("decimal(38,0)")).as("__q"))
    val folded = ranked.agg(aggs.head, aggs.tail: _*)
    val nn = col("n").cast("double")
    val s2 = col("__q").cast("double") / when(nn > 1.0, nn - 1.0)
    val num = sorted.indices.map(i =>
      col(s"__a$i").cast("double") * col(s"__a$i").cast("double") /
        when(col(s"__n$i") > 0, col(s"__n$i"))).reduce(_ + _)
    val ok = col("n") >= 2L && s2 > 0 &&
      sorted.indices.map(i => col(s"__n$i") > 0L).reduce(_ && _)
    folded.select((Seq(col("n")) ++
      sorted.zipWithIndex.map { case (g, i) => col(s"__n$i").as(s"n_$g") } ++
      Seq(round(when(ok, num / when(s2 > 0, s2)), 6).as("t_stat"),
        lit(groups.size - 1).as("df"))): _*)
  }

  /** Fligner–Killeen test across DECLARED groups — the most robust of
    * the k-sample DISPERSION tests ([[bartlett]] parametric,
    * [[brownForsythe]] its median-based repair, this the rank one):
    * each value becomes |v − group median|, the pooled midranks of
    * those deviations become half-normal scores a = Φ⁻¹(½ + r/(2(N+1))),
    * and χ² = Σⱼ nⱼ(Āⱼ − ā)²/V ~ χ²(k−1) — outlier-proof where
    * Bartlett's log-variances explode.
    *
    * Determinism: group medians are exact lower-median elections (the
    * [[moodMedian]] device); deviations commit to the centi lattice;
    * scores are the [[probit]] fixed tree committed to the 1e-6
    * lattice; every fold is exact. On a continuous axis use
    * [[flignerKilleenBinned]] (deviations from the bin representative
    * — the [[Drift.latticeBin]] `__binv` contract).
    *
    * Plan: one corpus pass to (group, value) counts, bounded
    * per-group election windows, a k-row broadcast of medians, the
    * bounded pooled-deviation window, one fold.
    */
  def flignerKilleen(df: DataFrame, groupCol: String, valueCol: String,
                     groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"flignerKilleen: 2..32 distinct declared groups (got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    checkRoster(base, "flignerKilleen", groups)
    val gv = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    fkFold(gv, groups)
  }

  /** [[flignerKilleen]] over [[Drift.latticeBin]]-coarsened values:
    * deviations are measured from the bin REPRESENTATIVE (`__binv`) so
    * magnitudes stay in value units; same election/score/fold. */
  def flignerKilleenBinned(df: DataFrame, groupCol: String,
                           valueCol: String, groups: Seq[String],
                           bins: Int = 1000): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32 &&
      groups.distinct == groups,
      s"flignerKilleenBinned: 2..32 distinct declared groups " +
        s"(got $groups)")
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v")))
    checkRoster(base, "flignerKilleenBinned", groups)
    val binned = Drift.latticeBin(base, "__v", bins)
    val gv = binned.groupBy(col("__g"), col("__binv").as("__v"))
      .agg(count(lit(1)).as("__c"))
    fkFold(gv, groups)
  }

  /** Fligner–Killeen close over a (group, value, count) frame: exact
    * per-group median elections, centi-lattice |deviation|, pooled
    * midrank half-normal scores on the 1e-6 lattice, one fold. */
  private def fkFold(gv: DataFrame, groups: Seq[String]): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sorted = groups.sorted
    val wg = Window.partitionBy(col("__g"))
    val cum = wg.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val meds = gv
      .withColumn("__cw", sum(col("__c")).over(cum))
      .withColumn("__tot", sum(col("__c")).over(wg))
      .filter(col("__cw") * 2 >= col("__tot"))
      .groupBy(col("__g"))
      .agg(min(col("__v")).as("__med"))
    val devAggs = sorted.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, col("__c")).otherwise(0L)).as(s"__c$i") }
    val dev = gv.join(broadcast(meds), Seq("__g"))
      .withColumn("__d",
        round(abs(col("__v") - col("__med")) * 100, 0).cast("long"))
      .groupBy(col("__d"))
      .agg(devAggs.head, devAggs.tail: _*)
      .withColumn("__n",
        groups.indices.map(i => col(s"__c$i")).reduce(_ + _))
    val w = Window.orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = dev
      .withColumn("__r2",
        lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L))
          + col("__n") + lit(1L))
      .withColumn("__wtot", sum(col("__n")).over(Window.partitionBy()))
      .withColumn("__s", round(probit(
        lit(0.5) + col("__r2").cast("double") /
          (lit(4.0) * (col("__wtot").cast("double") + 1.0))) * 1e6, 0)
        .cast("long"))
    val aggs = groups.indices.flatMap { i =>
      Seq(coalesce(sum(col(s"__c$i")), lit(0L)).as(s"__n$i"),
        coalesce(sum(dec(col(s"__c$i")) * col("__s")),
          lit(0L).cast("decimal(38,0)")).as(s"__a$i"))
    } ++ Seq(coalesce(sum(col("__n")), lit(0L)).as("n"),
      coalesce(sum(dec(col("__n")) * col("__s")), lit(0L)
        .cast("decimal(38,0)")).as("__sa"),
      coalesce(sum(dec(col("__n")) * col("__s") * col("__s")),
        lit(0L).cast("decimal(38,0)")).as("__q"))
    val folded = ranked.agg(aggs.head, aggs.tail: _*)
    val nn = col("n").cast("double")
    val abar = col("__sa").cast("double") / when(nn > 0, nn)
    val vv = (col("__q").cast("double") -
      col("__sa").cast("double") * col("__sa") / when(nn > 0, nn)) /
      when(nn > 1.0, nn - 1.0)
    val num = sorted.indices.map { i =>
      val dj = col(s"__a$i").cast("double") -
        col(s"__n$i").cast("double") * abar
      dj * dj / when(col(s"__n$i") > 0, col(s"__n$i"))
    }.reduce(_ + _)
    val ok = col("n") >= 2L && vv > 0 &&
      sorted.indices.map(i => col(s"__n$i") > 0L).reduce(_ && _)
    folded.select((Seq(col("n")) ++
      sorted.zipWithIndex.map { case (g, i) => col(s"__n$i").as(s"n_$g") } ++
      Seq(round(when(ok, num / when(vv > 0, vv)), 6).as("fk_stat"),
        lit(groups.size - 1).as("df"))): _*)
  }

  /** D'Agostino–Pearson K² normality omnibus — the refinement of
    * [[jarqueBera]] that transforms the sample skewness and kurtosis to
    * SEPARATELY-calibrated normal deviates (D'Agostino 1970 for √b₁,
    * Anscombe–Glynn 1983 for b₂) before squaring, so it holds its size
    * at moderate n where JB's asymptotic χ² is badly anti-conservative.
    * Emits both component z's beside K² — the direction readout (skewed
    * vs heavy-tailed) a single omnibus number hides.
    *
    * Determinism: values commit to the centi lattice (the [[graft.ops.Drift.cvmTest]]
    * lattice), so the four raw power sums S₁..S₄ are exact decimal folds
    * in any partition order; central moments, both transforms, and K²
    * are one fixed double tree both engines replay (cbrt for the
    * Wilson–Hilferty cube root — negative bases keep their sign).
    * Lattice bound: |v·100|⁴ · rows < 10³⁸ — a [0, 10⁶] axis is safe
    * through ~10¹² rows; past that, rescale the column first.
    * Requires n ≥ 20 (the transforms' own validity floor) — NULL below.
    *
    * Plan: ONE corpus fold to a single row (map-side combined) — no
    * shuffle beyond the 1-row combine, no window, no join.
    */
  def dagostinoK2(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && !isnan(v))
      .select(round(v * 100, 0).cast("long").as("__vu"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val vu = col("__vu")
    val f = base.agg(count(lit(1)).as("n"),
      sum(dec(vu)).as("__s1"),
      sum(dec(vu) * vu).as("__s2"),
      sum(dec(vu) * vu * vu).as("__s3"),
      sum(dec(vu) * vu * vu * vu).as("__s4"))
    val nD = col("n").cast("double")
    val m = col("__s1").cast("double") / nD
    val r2 = col("__s2").cast("double") / nD
    val r3 = col("__s3").cast("double") / nD
    val r4 = col("__s4").cast("double") / nD
    val m2 = r2 - m * m
    val m3 = r3 - lit(3.0) * m * r2 + lit(2.0) * m * m * m
    val m4 = r4 - lit(4.0) * m * r3 + lit(6.0) * m * m * r2 -
      lit(3.0) * m * m * m * m
    val g1 = m3 / pow(m2, 1.5)
    val b2 = m4 / (m2 * m2)
    // D'Agostino (1970) skewness transform
    val y = g1 * sqrt((nD + 1.0) * (nD + 3.0) / (lit(6.0) * (nD - 2.0)))
    val beta2 = lit(3.0) * (nD * nD + lit(27.0) * nD - 70.0) *
      (nD + 1.0) * (nD + 3.0) /
      ((nD - 2.0) * (nD + 5.0) * (nD + 7.0) * (nD + 9.0))
    val w2 = sqrt(lit(2.0) * (beta2 - 1.0)) - 1.0
    val delta = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - 1.0))
    val zSkew = delta * log(y / alpha + sqrt(y / alpha * (y / alpha) + 1.0))
    // Anscombe–Glynn (1983) kurtosis transform
    val eb2 = lit(3.0) * (nD - 1.0) / (nD + 1.0)
    val vb2 = lit(24.0) * nD * (nD - 2.0) * (nD - 3.0) /
      ((nD + 1.0) * (nD + 1.0) * (nD + 3.0) * (nD + 5.0))
    val x = (b2 - eb2) / sqrt(vb2)
    val sb1 = lit(6.0) * (nD * nD - lit(5.0) * nD + 2.0) /
      ((nD + 7.0) * (nD + 9.0)) *
      sqrt(lit(6.0) * (nD + 3.0) * (nD + 5.0) /
        (nD * (nD - 2.0) * (nD - 3.0)))
    val aA = lit(6.0) + lit(8.0) / sb1 *
      (lit(2.0) / sb1 + sqrt(lit(1.0) + lit(4.0) / (sb1 * sb1)))
    val zKurt = ((lit(1.0) - lit(2.0) / (lit(9.0) * aA)) -
      cbrt((lit(1.0) - lit(2.0) / aA) /
        (lit(1.0) + x * sqrt(lit(2.0) / (aA - 2.0))))) /
      sqrt(lit(2.0) / (lit(9.0) * aA))
    val ok = col("n") >= 20L && m2 > 0
    f.select(col("n"),
      round(m / 100.0, 6).as("mean"),
      round(when(ok, g1), 6).as("skewness"),
      round(when(ok, b2), 6).as("kurtosis"),
      round(when(ok, zSkew), 6).as("z_skew"),
      round(when(ok, zKurt), 6).as("z_kurt"),
      round(when(ok, zSkew * zSkew + zKurt * zKurt), 6).as("k2_stat"))
  }

  /** Cronbach's alpha over a declared item battery — the internal-
    * consistency readout for any composite score (a quality rubric, a
    * multi-signal feature bundle, an annotation rubric's items): do the
    * items move together enough to justify summing them? Emits raw α
    * (scale-weighted, the classic), standardized α (from the mean
    * inter-item correlation — the one to read when item scales differ),
    * and r̄ itself.
    *
    * Determinism: every item commits to the SAME 1e-6 lattice, so item
    * sums/squares, all k(k−1)/2 cross-products, and the row-total
    * moments are exact decimal folds; the common lattice factor cancels
    * from α exactly (α is invariant to shared rescaling), and both
    * engines replay one fixed double tree. Rows with ANY null item are
    * dropped (listwise deletion, the classical treatment, stated so
    * both engines agree). Decimal bound: |v·1e6|² · rows < 10³⁸ per
    * item — a [0, 10⁶] axis is safe through ~10¹⁴ rows.
    *
    * Plan: ONE corpus fold to a single row carrying 2k + k(k−1)/2 + 3
    * aggregates (wide but map-side combined; k ≤ 16 is a knob, not
    * data) — no shuffle beyond the 1-row combine.
    */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2 && itemCols.size <= 16 &&
      itemCols.distinct == itemCols,
      s"cronbachAlpha: 2..16 distinct item columns (got $itemCols)")
    val k = itemCols.size
    val base = df.filter(itemCols.map(c =>
        col(c).isNotNull && !isnan(col(c).cast("double"))).reduce(_ && _))
      .select(itemCols.zipWithIndex.map { case (c, i) =>
        round(col(c).cast("double") * 1e6, 0).cast("long").as(s"__v$i")
      }: _*)
      .withColumn("__t", itemCols.indices.map(i => col(s"__v$i"))
        .reduce(_ + _))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val pairs = for {
      i <- 0 until k; j <- (i + 1) until k
    } yield (i, j)
    val aggs = itemCols.indices.flatMap { i =>
      Seq(sum(dec(col(s"__v$i"))).as(s"__s$i"),
        sum(dec(col(s"__v$i")) * col(s"__v$i")).as(s"__q$i"))
    } ++ pairs.map { case (i, j) =>
      sum(dec(col(s"__v$i")) * col(s"__v$j")).as(s"__c${i}_$j")
    } ++ Seq(count(lit(1)).as("n"),
      sum(dec(col("__t"))).as("__st"),
      sum(dec(col("__t")) * col("__t")).as("__qt"))
    val f = base.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    def sxx(i: Int) = col(s"__q$i").cast("double") -
      col(s"__s$i").cast("double") * col(s"__s$i") / nD
    def vItem(i: Int) = sxx(i) / (nD - 1.0)
    val vTot = (col("__qt").cast("double") -
      col("__st").cast("double") * col("__st") / nD) / (nD - 1.0)
    // denominators guarded IN PLACE (NULL, not a throw): `when(ok, …)`
    // alone is not enough — repeated subexpressions (rbar feeds two
    // outputs) get hoisted out of the CaseWhen by subexpression
    // elimination and evaluated unconditionally under ANSI mode
    val alpha = lit(k / (k - 1).toDouble) *
      (lit(1.0) - itemCols.indices.map(vItem).reduce(_ + _) /
        when(vTot > 0, vTot))
    def corr(i: Int, j: Int) = (col(s"__c${i}_$j").cast("double") -
      col(s"__s$i").cast("double") * col(s"__s$j") / nD) /
      when(sxx(i) * sxx(j) > 0, sqrt(sxx(i) * sxx(j)))
    val rbar = pairs.map { case (i, j) => corr(i, j) }.reduce(_ + _) /
      lit(pairs.size.toDouble)
    val stdDen = lit(1.0) + lit((k - 1).toDouble) * rbar
    val alphaStd = lit(k.toDouble) * rbar / when(stdDen =!= 0.0, stdDen)
    val ok = col("n") >= 3L && vTot > 0 &&
      itemCols.indices.map(i => sxx(i) > 0).reduce(_ && _)
    f.select(col("n"), lit(k).as("k_items"),
      round(when(ok, alpha), 6).as("alpha"),
      round(when(ok, rbar), 6).as("mean_inter_item_corr"),
      round(when(ok, alphaStd), 6).as("alpha_standardized"),
      round(when(ok, vTot / 1e12), 6).as("var_total"))
  }
}
