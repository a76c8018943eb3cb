package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** SURVEY §2.2–§2.7: projections, aggregations/time windows,
  * point-in-time joins, sorts/top-k, data-quality expectations, drift.
  *
  * One domain slice of the query registry (split out of SparkEntry in
  * round 8 — wiring only, no behavior change; [[graft.SparkEntry]]
  * assembles and uniqueness-checks the full map).
  */
object CoreRegistry {

  /** J1: each click gets the newest purchase value of its user within 7
    * days. `q_asof_features` and `q_asof_native` both run it; the second
    * name is kept from when the native operator was a separate path.
    */
  private val clickPurchaseAsOf: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = Tables.events(s, dir)
    val probes = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val feats = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("fts"))
      .agg(max(col("value")).as("last_purchase_value"))
    Retrieval.asOfJoin(probes, feats, "user_id", "ts", "fts",
        "INTERVAL 7 DAYS", Seq("last_purchase_value"))
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 projections / scalar functions -------------------------------
    "p_parse_events" -> ((s, dir) =>
      ev(s, dir).orderBy("event_id")),
    "p_value_bins" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(Parse.magnitudeBin(col("value") / 1000.0).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .orderBy("bin")),
    "p_pct_change" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val cur = e.filter(col("event_type") === "purchase")
        .agg(avg(col("value")).as("cur_mean"))
      val ref = e.filter(col("event_type") === "view")
        .agg(avg(col("value")).as("ref_mean"))
      cur.crossJoin(ref).select(
        round(col("cur_mean"), 6).as("cur_mean"),
        round(col("ref_mean"), 6).as("ref_mean"),
        round(Parse.pctChange(col("cur_mean"), col("ref_mean")), 6)
          .as("pct_change"))
    }),
    "p_id_format" -> ((s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        Parse.formatUserId(col("c_custkey")).as("user_id"),
        Parse.formatCode(col("c_mktsegment"), col("c_nationkey")).as("code"))
        .orderBy("c_custkey")),

    // ---- §2.3 aggregations & time windows ----------------------------------
    "q_clickstream_hourly" -> ((s, dir) =>
      WindowAgg.hourlyFeatures(ev(s, dir))),
    "q_clickstream_sliding" -> ((s, dir) =>
      WindowAgg.slidingFeatures(ev(s, dir))),
    "q_clickstream_hourly_approx" -> ((s, dir) =>   // HLL vs exact, tolerance-oracled
      WindowAgg.hourlyFeaturesApproxChecked(ev(s, dir))),
    "q_sessions" -> ((s, dir) =>
      Session.sessionWindows(Tables.events(s, dir), "user_id", "ts",
        "30 minutes").orderBy("user_id", "session_start")),
    "q_slo_burn" -> ((s, dir) => {
      // SRE burn-rate over the event stream: daily error rate against a
      // 1% error budget (99% SLO), burn multiple, cumulative budget
      // consumed, and the fast-burn alert (burn > 2x) — windows over the
      // bounded day table (the cusum/forecast class)
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("errors"))
      val cumW = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val budget = 0.01
      daily
        .withColumn("error_rate",
          round(col("errors") / col("n").cast("double"), 6))
        .withColumn("burn",
          round(col("errors") / col("n").cast("double") / lit(budget), 6))
        .withColumn("budget_consumed",
          round(sum(col("errors")).over(cumW) /
            (lit(budget) * sum(col("n")).over(cumW).cast("double")), 6))
        .withColumn("fast_burn",
          col("errors") / col("n").cast("double") / lit(budget) > 2.0)
        .select(col("day"), col("n"), col("errors"), col("error_rate"),
          col("burn"), col("budget_consumed"), col("fast_burn"))
        .orderBy("day")
    }),
    "q_session_stats" -> ((s, dir) => {
      // the product readout over sessionization: bounce rate (single-
      // event sessions), mean depth, median active span, value totals —
      // one bounded fold over the session table
      val sw = Session.sessionWindows(Tables.events(s, dir), "user_id",
        "ts", "30 minutes")
      val spanS = (unix_micros(col("session_end").cast("timestamp")) -
        unix_micros(col("session_start").cast("timestamp"))) /
        lit(1000000L) - lit(1800.0) // session_window end includes the gap
      sw.agg(
        count(lit(1)).cast("long").as("n_sessions"),
        count_distinct(col("user_id")).cast("long").as("n_users"),
        round(sum(when(col("n_events") === 1, 1).otherwise(0)) /
          count(lit(1)).cast("double"), 6).as("bounce_rate"),
        round(sum(col("n_events")) / count(lit(1)).cast("double"), 6)
          .as("avg_events"),
        round(percentile(spanS, lit(0.5)), 6).as("median_span_s"),
        round(sum(col("session_value")), 2).as("total_value"))
    }),
    "q_rolling_active_users" -> ((s, dir) =>
      // DAU + exact trailing-7-day WAU via bounded pair replication
      WindowAgg.rollingActiveUsers(Tables.events(s, dir), "user_id", "ts")),
    "q_rolling_active_users_approx" -> ((s, dir) =>
      // the mergeable-sketch WAU path, tolerance-oracled against exact
      WindowAgg.rollingActiveUsersApproxChecked(
        Tables.events(s, dir), "user_id", "ts")),
    "x_sql_cosine" -> ((s, dir) => {
      graft.functions.GraftExtensions.register(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("emb_sql")
      s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  round(cosine_similarity(CAST(a.embedding AS ARRAY<DOUBLE>),
              |        CAST(b.embedding AS ARRAY<DOUBLE>)), 6) AS cos
              |FROM emb_sql a JOIN emb_sql b ON a.vec_id + 1 = b.vec_id
              |ORDER BY id_a""".stripMargin)
    }),
    "q_group_distribution" -> ((s, dir) =>
      Stats.groupDistribution(Tables.customer(s, dir), "c_nationkey")),
    "q_numeric_summary" -> ((s, dir) =>
      Stats.numericSummary(Tables.lineitem(s, dir), "l_quantity", 25.0)),
    "q_latest_snapshot" -> ((s, dir) =>
      snapshot(s, dir)
        .select(col("o_custkey"), col("o_orderdate").as("feature_ts"),
          col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_custkey")),
    "q_incremental_snapshot" -> ((s, dir) => {
      // materialize-incremental contract: fold the post-cutoff delta into
      // the pre-cutoff snapshot; must equal the full-history snapshot
      // (oracle = the same snapshot SQL as q_latest_snapshot)
      val o = Tables.orders(s, dir)
      val cutoff = "1999-01-01"
      val base = Materialize.latestPerKey(
        o.filter(col("o_orderdate") < lit(cutoff).cast("timestamp_ntz")),
        "o_custkey", "o_orderdate", "o_orderkey")
      val delta = o.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp_ntz"))
      Materialize.incremental(base, delta, "o_custkey", "o_orderdate",
          "o_orderkey")
        .select(col("o_custkey"), col("o_orderdate").as("feature_ts"),
          col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_custkey")
    }),
    "q_snapshot_asof" -> ((s, dir) =>
      // time travel: the online store as it looked at the 1997-06-01 cutoff
      Materialize.snapshotAsOf(Tables.orders(s, dir), "o_custkey",
          "o_orderdate", "o_orderkey", "1997-06-01")
        .select(col("o_custkey"), col("o_orderdate").as("feature_ts"),
          col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_custkey")),
    "q_feature_scaling" -> ((s, dir) =>
      // standardize + min-max transforms from one stats pass; probe rows
      // subsampled by key modulus (stats still computed over ALL rows)
      Stats.scaleFeatures(Tables.orders(s, dir), "o_orderkey",
          Seq("o_totalprice"))
        .filter(col("o_orderkey") % 300 === 0)),
    "q_freshness" -> ((s, dir) =>
      Materialize.freshness(Seq(
        ("events", Tables.events(s, dir), "ts"),
        ("orders", Tables.orders(s, dir), "o_orderdate")))),
    "q_coverage" -> ((s, dir) => {
      val probed = Retrieval.pointLookup(
        Tables.customer(s, dir).select(col("c_custkey")),
        snapshot(s, dir).withColumnRenamed("o_custkey", "c_custkey")
          .select("c_custkey", "o_totalprice"),
        "c_custkey")
      Materialize.coverage(probed, "o_totalprice")
    }),

    "q_materialization_dag" -> ((s, dir) => {
      // §3.2 end to end: partition probe (S11 fallback: last-7 partitions) →
      // latest-per-key materialization (A12) → sampled point lookups (T2/J2)
      // → non-null coverage (A14) — the reference's daily Airflow DAG as one
      // declarative plan
      val events = Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
      val recent = Stats.recentPartitions(events, "event_date", 7)
      val filtered = events.join(broadcast(recent), Seq("event_date"))
      val snap = Materialize.latestPerKey(filtered, "user_id", "ts", "event_id")
        .select(col("user_id"), col("value").as("feature_value"))
      val probes = Stats.probeSample(Tables.customer(s, dir), "c_custkey", 13)
        .select(col("c_custkey").as("user_id"))
      Materialize.coverage(
        Retrieval.pointLookup(probes, snap, "user_id"), "feature_value")
    }),

    // ---- §2.4 joins / point-in-time retrieval ------------------------------
    "q_asof_features" -> clickPurchaseAsOf,
    "q_asof_native" -> clickPurchaseAsOf,
    "s_bucketed_asof" -> ((s, dir) => {
      // the zero-exchange/zero-sort as-of fast path as a registered query:
      // both sides land as bucketed-sorted tables on the join key, so
      // AsOfJoinExec's required distribution+ordering are satisfied at the
      // SCAN and EnsureRequirements inserts nothing — the 100 TB shape
      // where feature tables are written bucketed once and every as-of
      // retrieval afterwards is shuffle-free. Same DuckDB ASOF oracle as
      // the exchange-planned form (layout changes, semantics do not);
      // PLANS.md carries the exchange-free plan.
      val e = Tables.events(s, dir)
      // the sort-free plan needs session conf bucketedTableScan.outputOrdering
      // a fresh session's in-memory catalog doesn't know about a previous
      // run's managed-table LOCATION — drop both the entry and the files
      for (t <- Seq("graft_asof_probes_bkt", "graft_asof_feats_bkt")) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir") + "/" + t)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(loc, true)
      }
      // repartition onto the bucket hash BEFORE the bucketed write: each
      // task then holds exactly one bucket, so every bucket lands as ONE
      // sorted file — the condition under which the scan's outputOrdering
      // carries the sortBy order and EnsureRequirements inserts no Sort
      // (multi-file buckets are only per-file sorted, forcing a re-sort)
      e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
        .repartition(8, col("user_id"))
        .write.mode("overwrite").bucketBy(8, "user_id")
        .sortBy("user_id", "ts").saveAsTable("graft_asof_probes_bkt")
      e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("fts"))
        .agg(max(col("value")).as("last_purchase_value"))
        .repartition(8, col("user_id"))
        .write.mode("overwrite").bucketBy(8, "user_id")
        .sortBy("user_id", "fts").saveAsTable("graft_asof_feats_bkt")
      Retrieval.asOfJoin(s.table("graft_asof_probes_bkt"),
          s.table("graft_asof_feats_bkt"), "user_id", "ts", "fts",
          "INTERVAL 7 DAYS", Seq("last_purchase_value"))
        .orderBy("event_id")
    }),
    "q_fs_historical" -> ((s, dir) => {
      // the FeatureStore facade end to end: apply view → point-in-time
      // retrieval — same ASOF oracle as q_asof_features, view__feature cols
      val e = Tables.events(s, dir)
      val probes = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val feats = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("fts"))
        .agg(max(col("value")).as("last_purchase_value"))
      val fs = new graft.FeatureStore(s)
      fs.applyView(graft.FeatureView("purchases", feats, "user_id", "fts",
        "last_purchase_value", Seq("last_purchase_value")))
      fs.getHistoricalFeatures(probes, "purchases", "ts")
        .orderBy("event_id")
    }),
    "q_fs_multiview" -> ((s, dir) => {
      // the multi-view feature list: two registered views join point-in-
      // time onto one probe frame in a single call, features side by side
      val e = Tables.events(s, dir)
      val probes = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      def latest(t: String, out: String) = e.filter(col("event_type") === t)
        .groupBy(col("user_id"), col("ts").as("fts"))
        .agg(max(col("value")).as(out))
      val fs = new graft.FeatureStore(s)
      fs.applyView(graft.FeatureView("purchases", latest("purchase",
        "last_purchase_value"), "user_id", "fts", "last_purchase_value",
        Seq("last_purchase_value")))
      fs.applyView(graft.FeatureView("pageviews", latest("view",
        "last_view_value"), "user_id", "fts", "last_view_value",
        Seq("last_view_value")))
      fs.getHistoricalFeaturesMulti(probes, Seq("purchases", "pageviews"),
          "ts")
        .orderBy("event_id")
    }),
    "q_point_lookup" -> ((s, dir) => {
      val keys = Stats.probeSample(Tables.customer(s, dir), "c_custkey", 7)
        .select(col("c_custkey"), col("c_mktsegment"))
      val snap = snapshot(s, dir).withColumnRenamed("o_custkey", "c_custkey")
        .select("c_custkey", "o_totalprice", "o_orderstatus")
      Retrieval.pointLookup(keys, snap, "c_custkey")
        .select(col("c_custkey"),
          col("c_mktsegment").as("customer__mktsegment"),
          col("o_totalprice").as("orders__totalprice"),
          col("o_orderstatus").as("orders__orderstatus"),
          col("o_totalprice").isNotNull.as("has_features"))
        .orderBy("c_custkey")
    }),
    "q_enrichment" -> ((s, dir) => {
      val enriched = Retrieval.enrich(
        Tables.events(s, dir).select("event_id", "user_id", "event_type"),
        Tables.customer(s, dir)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"),
            col("c_nationkey")),
        "user_id")
      Retrieval.enrich(enriched,
          Tables.nation(s, dir).select(col("n_nationkey").as("c_nationkey"),
            col("n_name")),
          "c_nationkey")
        .select("event_id", "user_id", "event_type", "c_mktsegment", "n_name")
        .orderBy("event_id")
    }),

    // ---- §2.5 sorts / limits / top-k / sampling ----------------------------
    "q_topk_segments" -> ((s, dir) =>
      Stats.topKByCount(Tables.customer(s, dir), "c_mktsegment", 3)),
    "q_probe_sample" -> ((s, dir) =>
      Stats.probeSample(Tables.customer(s, dir), "c_custkey", 50)
        .select("c_custkey", "c_name").orderBy("c_custkey")),
    "q_percentiles" -> ((s, dir) =>
      Stats.percentiles(Tables.lineitem(s, dir), "l_extendedprice")),
    "q_percentiles_approx" -> ((s, dir) =>   // sketch vs exact, tolerance-oracled
      Stats.percentilesApproxChecked(Tables.lineitem(s, dir),
        "l_extendedprice")),
    "q_mode_per_key" -> ((s, dir) =>
      Stats.deterministicMode(Tables.events(s, dir), "user_id", "event_type")),
    "q_rolling_features" -> ((s, dir) =>
      Stats.rollingFeatures(
          Tables.events(s, dir).select("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "event_id", "value")
        .orderBy("event_id")),
    "q_rolling_time_window" -> ((s, dir) =>
      // trailing ONE HOUR per user (RANGE frame over epoch micros) —
      // the time-denominated velocity feature a ROWS frame can't express
      Stats.rollingTimeWindow(
        Tables.events(s, dir).select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", "value", windowSeconds = 3600L)),
    "q_rolling_anomalies" -> ((s, dir) =>
      // trailing-window z-score anomalies per user (|z| > 2 on the
      // ROUNDED score, so both engines select identical rows)
      Stats.rollingZScore(
          Tables.events(s, dir).select("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "event_id", "value")
        .filter(abs(col("z")) > 2)
        .select("event_id", "user_id", "value", "roll_avg", "roll_std", "z")
        .orderBy("event_id")),
    "q_iqr_outliers" -> ((s, dir) =>
      Stats.iqrOutliers(Tables.events(s, dir), "event_type", "value")),
    "q_iqr_outliers_approx" -> ((s, dir) =>    // sketch quartiles, tolerance-oracled
      Stats.iqrOutliersApproxChecked(Tables.events(s, dir), "event_type",
        "value")),
    "q_group_percentiles_approx" -> ((s, dir) => // sketch vs exact, tolerance-oracled
      Stats.groupPercentilesApproxChecked(Tables.events(s, dir), "event_type",
        "value")),
    "q_recent_partitions" -> ((s, dir) =>
      Stats.recentPartitions(
        Tables.events(s, dir).withColumn("event_date", to_date(col("ts"))),
        "event_date", 7)),

    // ---- §2.6 data-quality expectations ------------------------------------
    "q_constraint_suggest" -> ((s, dir) =>
      // Deequ-style suggestion: one profile pass emits the expectations
      // the data currently satisfies (bootstrap of the quality loop)
      Quality.suggestConstraints(Tables.events(s, dir),
        numericCols = Seq("event_id", "user_id", "value"),
        enumCandidates = Seq("event_type"))),
    "q_quality_report" -> ((s, dir) =>
      Quality.report(Tables.customer(s, dir), Seq(
        Quality.NotNull("c_name"),
        Quality.NotNull("c_mktsegment"),
        Quality.Between("c_acctbal", -1000.0, 10000.0),
        Quality.Between("c_nationkey", 0.0, 24.0),
        Quality.InSet("c_mktsegment", Seq("AUTOMOBILE", "BUILDING",
          "FURNITURE", "HOUSEHOLD", "MACHINERY"))))),
    "q_profile" -> ((s, dir) =>
      // data-catalog column profile: one aggregation pass, melted report
      Quality.profile(Tables.customer(s, dir),
        Seq("c_custkey", "c_name", "c_mktsegment"))),
    "q_unique_check" -> ((s, dir) =>
      Quality.uniqueReport(Tables.customer(s, dir), "c_custkey")),
    "q_quality_offenders" -> ((s, dir) =>
      Quality.offenders(
          Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal"),
          Quality.Between("c_acctbal", 0.0, 9000.0), "c_custkey", 5)),
    "q_dataset_fingerprint" -> ((s, dir) =>
      // order-invariant 64-bit content hash + row count: the "exact same
      // dataset?" stamp for the registry (string-stable columns only —
      // float stringification is engine-specific, so value/ts stay out)
      Quality.datasetFingerprint(Tables.events(s, dir),
        Seq("event_id", "user_id", "event_type", "props"))),
    "q_fk_integrity" -> ((s, dir) =>
      // cross-table FK health: orphans + match rate per declared edge
      Quality.referentialIntegrity(Seq(
        ("lineitem.l_orderkey->orders.o_orderkey",
          Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        ("orders.o_custkey->customer.c_custkey",
          Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        ("events.user_id->customer.c_custkey",
          Tables.events(s, dir), "user_id",
          Tables.customer(s, dir), "c_custkey")))),
    "q_snapshot_diff" -> ((s, dir) =>
      // governance diff: which keys the 1997-06-01 → 1998-01-01
      // materialization window added or changed (delta only, never the
      // full store)
      Materialize.snapshotDiff(Tables.orders(s, dir), "o_custkey",
          "o_orderdate", "o_orderkey", "o_totalprice",
          "1997-06-01", "1998-01-01")
        .orderBy("o_custkey")),

    // ---- §2.7 drift detection ----------------------------------------------
    "q_qq_drift" -> ((s, dir) =>
      // WHERE along the distribution the purchase/view gap lives:
      // exact decile QQ table with per-quantile gaps
      Drift.qqTable(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_cvm_drift" -> ((s, dir) =>
      // integrated-squared ECDF gap where KS takes one worst point:
      // exact decimal numerator, Anderson 5% critical 0.461
      Drift.cvmTest(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_cvm_binned" -> ((s, dir) =>
      // 100 TB twin: same exact-decimal CvM fold over <=1000 lattice
      // bins (bounded ECDF window, wider decimal headroom)
      Drift.cvmBinned(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_anderson_darling" -> ((s, dir) =>
      // tail-weighted two-sample distance: each ECDF gap divided by
      // H(1-H), so tail drift counts most; 1e-12 per-term lattice
      Drift.andersonDarling(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_anderson_darling_binned" -> ((s, dir) =>
      // 100 TB twin: same fold over <=1000 lattice bins
      Drift.andersonDarlingBinned(Tables.events(s, dir), "value",
        "event_type", "purchase", "view")),
    "q_energy_drift" -> ((s, dir) =>
      // moment-free energy distance: exact integer gap-folds for all
      // three E|.| terms plus the Szekely-Rizzo statistic
      Drift.energyDistance(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_energy_binned" -> ((s, dir) =>
      // 100 TB twin: gap-folds over bin representatives in value units;
      // every E|.| term within one bin width of exact
      Drift.energyBinned(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_ks_drift" -> ((s, dir) =>
      // large-sample KS: asymptotic p pinned (exactBelow=0) so the series
      // oracle holds at every sf — sf0.001 sides (~200) would otherwise
      // flip into the exact small-n path, which q_ks_exact oracle-checks
      Drift.ksTest(Tables.events(s, dir), "value", "event_type",
        "purchase", "view", exactBelow = 0)),
    "q_ks_exact" -> ((s, dir) => {
      // D1 small-n: scipy-parity EXACT p-value (lattice-path distribution)
      // on a deterministic 30-vs-30 probe; the DuckDB oracle replays the
      // same integer DP in HUGEINT inside a recursive CTE
      val e = Tables.events(s, dir)
      def side(t: String) = e.filter(col("event_type") === t)
        .orderBy("event_id").limit(30).select("event_type", "value")
      Drift.ksTest(side("purchase").unionByName(side("view")),
        "value", "event_type", "purchase", "view")
    }),
    "q_dist_summary" -> ((s, dir) =>
      Drift.distSummary(Tables.events(s, dir), "value", "event_type")),
    "q_drift_sweep" -> ((s, dir) =>
      // binned ECDF default: per-feature windows bounded at ≤1000 rows
      Drift.sweep(
        Tables.events(s, dir)
          .filter(col("event_type").isin("purchase", "view"))
          .select(col("event_type"), col("value"),
            get_json_object(col("props"), "$.k").cast("double").as("k")),
        "event_type", "purchase", "view", Seq("k", "value"))),
    "q_drift_fdr" -> ((s, dir) =>
      // BH step-up over the 4-feature lineitem sweep (A vs N return
      // flags): per-feature asymptotic KS p, ranked, adjusted, gated at
      // FDR 0.05 — the alarm-rate control a wide sweep needs
      Drift.sweepFdr(
        Drift.sweep(
          Tables.lineitem(s, dir)
            .filter(col("l_returnflag").isin("A", "N"))
            .select(col("l_returnflag"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "l_returnflag", "A", "N",
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
        alpha = 0.05)),
    "q_drift_sweep_exact" -> ((s, dir) =>
      // small-domain opt-in: per-distinct-value ECDF
      Drift.sweepExact(
        Tables.events(s, dir)
          .filter(col("event_type").isin("purchase", "view"))
          .select(col("event_type"), col("value"),
            get_json_object(col("props"), "$.k").cast("double").as("k")),
        "event_type", "purchase", "view", Seq("k", "value"))),

    "q_ks_binned" -> ((s, dir) =>
      Drift.ksTestBinned(Tables.events(s, dir), "value", "event_type",
        "purchase", "view", bins = 1000)),
    "q_wasserstein" -> ((s, dir) =>
      // the AREA between the ECDFs over the same binning KS takes the
      // MAX of — catches wide-but-shallow drift KS underweights
      Drift.wasserstein1Binned(Tables.events(s, dir), "value",
        "event_type", "purchase", "view", bins = 1000)),
    "q_group_percentiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.9D)"), 6).as("p90"),
          round(expr("percentile(value, 0.99D)"), 6).as("p99"))
        .orderBy("event_type")),
    "q_psi_drift" -> ((s, dir) =>
      Drift.psi(Tables.events(s, dir), "value", "event_type",
        "view", "purchase")),
    "q_drift_vs_ref" -> ((s, dir) =>
      // frozen-bounds drift: purchase (live) vs view (reference), bin
      // edges from the reference ONLY with live-side clamping — the
      // batch twin the streaming drift monitor must reproduce
      Drift.sweepVsRef(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        Tables.events(s, dir).filter(col("event_type") === "view"),
        Seq("value"))),
    "q_kuiper" -> ((s, dir) =>
      // tail-balanced two-sample distance V = D+ + D- on the same
      // purchase/view split as q_ks_drift — argmax on exact integers
      Drift.kuiperTest(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_kuiper_binned" -> ((s, dir) =>
      // 100 TB twin: both one-sided sups elected over <=1000 ECDF
      // points; V within one bin's pooled mass below exact
      Drift.kuiperBinned(Tables.events(s, dir), "value", "event_type",
        "purchase", "view")),
    "q_tvd_drift" -> ((s, dir) =>
      // what fraction of probability mass moved between the view and
      // purchase value-bin distributions: exact-integer TVD
      Drift.tvd(
        Tables.events(s, dir)
          .withColumn("vbin", Parse.magnitudeBin(col("value") / 1000.0)),
        "vbin", "event_type", "view", "purchase")),
    "q_chi2_drift" -> ((s, dir) =>
      Drift.chiSquare(
        Tables.events(s, dir)
          .withColumn("vbin", Parse.magnitudeBin(col("value") / 1000.0)),
        "vbin", "event_type", "view", "purchase")),
    "q_time_since_target" -> ((s, dir) =>
      // recency feature: seconds since the user's last purchase, NULL for
      // never-purchased — the backward mirror of q_future_labels
      Retrieval.timeSinceTarget(
          Tables.events(s, dir).select(col("event_id"), col("user_id"),
            col("ts"), col("event_type")),
          "user_id", "ts", "event_id", col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("last_target_ts"),
          col("secs_since_target"))
        .orderBy("event_id")),
    "q_transition_matrix" -> ((s, dir) =>
      // behavioral flow: P(next event type | current) per user sequence
      Retrieval.transitionMatrix(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type")),
    "q_markov_entropy" -> ((s, dir) =>
      // nats of surprise per step of the behavior chain + the 1-H/ln d
      // predictability score — "is next-action modelling worth it"
      Retrieval.markovEntropyRate(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type", iterations = 30,
        expectedStates = Seq("click", "error", "purchase", "signup", "view"))),
    "q_markov_steady" -> ((s, dir) =>
      // where the behavioral flow settles: stationary distribution of
      // the event-type chain (30 unrolled power steps on the bounded
      // transition table, oracle-replayed step for step)
      Retrieval.markovSteadyState(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type", iterations = 30,
        expectedStates = Seq("click", "error", "purchase", "signup", "view"))),
    "q_steps_to_convert" -> ((s, dir) =>
      // expected transitions until the first purchase from each state —
      // the step-count companion to time_to_convert's wall-clock view
      Retrieval.markovHittingSteps(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type", target = "purchase",
        iterations = 60, expectedStates = Seq("click", "error", "purchase", "signup", "view"))),
    "q_convert_before_error" -> ((s, dir) =>
      // competing risks on the behavioral chain: P(purchase before
      // error) from every state — outcome odds next to the step counts
      Retrieval.markovAbsorbProb(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type",
        win = "purchase", lose = "error", iterations = 60,
        expectedStates = Seq("click", "error", "purchase", "signup", "view"))),
    "q_path_trigrams" -> ((s, dir) =>
      // top 3-step behavioral sequences with corpus share — the
      // Markov-order diagnostic one step above the transition matrix
      Retrieval.pathTrigrams(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type", k = 25)),
    "q_logrank" -> ((s, dir) =>
      // do the hash arms' time-to-first-purchase curves differ? the
      // significance number next to q_kaplan_meier's picture
      Eval.logRank(
        Tables.events(s, dir).select(col("user_id"), col("ts"),
          col("event_type")),
        "user_id", "ts", col("event_type") === "purchase")),
    "q_cox_score" -> ((s, dir) =>
      // do busier users purchase sooner? Cox score test at beta=0 with
      // the user's event count as the covariate — logrank's
      // continuous-covariate generalization, Breslow ties
      Eval.coxScore(
        Tables.events(s, dir).select(col("user_id"), col("ts"),
          col("event_type")),
        "user_id", "ts", col("event_type") === "purchase",
        count(lit(1)))),
    "q_next_event_accuracy" -> ((s, dir) =>
      // is the chain worth serving: top-1 accuracy of the modal
      // next-state predictor per from-state (in-sample audit)
      Retrieval.nextEventAccuracy(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type")),
    "q_removal_attribution" -> ((s, dir) =>
      // principled multi-touch credit: each channel's share of the
      // conversions that die when journeys through it are removed
      Eval.removalAttribution(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("event_type")),
        "user_id", "ts", "event_id", "event_type", convState = "purchase",
        channels = Seq("click", "error", "signup", "view"),
        iterations = 40)),
    "q_future_labels" -> ((s, dir) =>
      // forward-window conversion labels: did the user purchase within
      // 24h after each event? — one per-key window, no self-join
      Retrieval.futureLabels(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("ts"),
              col("event_type")),
          "user_id", "ts", "event_id",
          col("event_type") === "purchase", "24 HOURS")
        .select(col("event_id"), col("user_id"), col("next_target_ts"),
          col("label"))
        .orderBy("event_id")),
    "q_nearest_join" -> ((s, dir) =>
      // bidirectional as-of: for each purchase, the same user's view
      // nearest in time (either direction, tie → earlier) — merged
      // per-key stream, one window pass, no self-join
      Retrieval.nearestJoin(
          Tables.events(s, dir)
            .filter(col("event_type").isin("purchase", "view"))
            .select(col("event_id"), col("user_id"), col("ts"),
              col("event_type")),
          "user_id", "ts", "event_id",
          col("event_type") === "purchase", col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("prev_ref_ts"),
          col("next_ref_ts"), col("nearest_ref_ts"), col("gap_secs"))
        .orderBy("event_id")),
    "q_scd2" -> ((s, dir) =>
      // SCD type-2 dimension: per-user event_type validity intervals —
      // run-length collapse via one per-key window + run groupBy
      Materialize.scd2(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("ts"),
              col("event_type")),
          "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("last_ts"), col("n_rows"), col("is_current"))
        .orderBy("user_id", "valid_from")),
    "q_scd2_incremental" -> ((s, dir) => {
      // split-history fold: SCD2 of the first half folded with the
      // second half's batch must equal SCD2 of full history (the
      // q_incremental_snapshot convention — the oracle replays the
      // full-history SQL)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      val cut = lit("2024-01-16").cast("timestamp_ntz")
      val existing = Materialize.scd2(ev.filter(col("ts") < cut),
        "user_id", "ts", "event_id", "event_type")
      Materialize.scd2Incremental(existing, ev.filter(col("ts") >= cut),
          "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("last_ts"), col("n_rows"), col("is_current"))
        .orderBy("user_id", "valid_from")
    }),
    "q_ab_power" -> ((s, dir) =>
      // experiment sizing audit: required n per arm for the observed
      // lift at alpha=.05/power=.80, MDE at current size, powered?
      Eval.abPower(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("value")),
        "user_id",
        col("event_type") === "purchase" && col("value") > 95.0)),
    "q_autocorr" -> ((s, dir) =>
      // seasonality diagnostic: lag-1..14 autocorrelation of the daily
      // order-revenue series — one bucket agg + one bounded window pass
      Stats.autocorr(
        Tables.orders(s, dir), to_date(col("o_orderdate")),
        "o_totalprice", maxLag = 14)),
    "q_pacf" -> ((s, dir) =>
      // AR-order screen the ACF can't give: Durbin-Levinson partial
      // autocorrelations of daily revenue at lags 1-3, exact lattice
      // sufficient sums
      Stats.pacf(Tables.orders(s, dir), to_date(col("o_orderdate")),
        "o_totalprice")),
    "q_stickiness" -> ((s, dir) =>
      // DAU/MAU engagement per day: exact fan-out MAU over a 7-day
      // window (the corpus spans one month, so a weekly "MAU")
      Stats.stickiness(Tables.events(s, dir), "user_id", "ts",
        windowDays = 7)),
    "q_page_hinkley" -> ((s, dir) =>
      // running-mean drift monitor (no baseline period needed): daily
      // means built from exact centi sums so both engines fold the same
      // doubles; delta 0.05, alarm at lambda 5
      Drift.pageHinkley(
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(round(col("value") * 100, 0).cast("long"))
            .cast("double") / count(lit(1)) / 100.0).as("daily_avg")),
        "day", "daily_avg", delta = 0.05, lambda = 5.0)),
    "q_interarrival" -> ((s, dir) =>
      // Poisson-ness of each user's event stream: gap mean/min/max and
      // CV from exact microsecond gaps
      Stats.interArrival(Tables.events(s, dir), "user_id", "ts")),
    "q_cusum_drift" -> ((s, dir) =>
      // two-sided CUSUM over the daily-mean series: baseline = first 7
      // in-control days, slack 0.5σ₀, alarm at 3σ₀ — the sequential
      // recursion distributed via the prefix-minus-running-min identity
      Drift.cusum(
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(avg(col("value")).as("daily_avg")),
        "day", "daily_avg", baselineRows = 7)),
    "q_temporal_split" -> ((s, dir) =>
      // purged time-series split: 3-day embargo after the cutoff is
      // quarantined so trailing-window features cannot leak into test
      Sampling.temporalSplit(
          Tables.events(s, dir).select(col("event_id"), col("ts")),
          "ts", "2024-01-15 00:00:00", embargoDays = 3)
        .groupBy("split")
        .agg(count(lit(1)).as("n"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .orderBy("split")),
    "q_interval_join" -> ((s, dir) => {
      // campaign attribution: 5 weekly 10-day campaigns per event type
      // OVERLAP, so events match 1-2 concurrent campaigns — the
      // many-to-many interval join as-of can't express; binned to the
      // daily equi-join path, never a nested loop
      val campaigns = Tables.events(s, dir).select("event_type").distinct()
        .crossJoin(s.range(5).select(col("id").cast("int").as("w")))
        .select(col("event_type"),
          concat(col("event_type"), lit("_w"), col("w").cast("string"))
            .as("campaign_id"),
          date_add(lit("2024-01-01").cast("date"), col("w") * 7)
            .cast("timestamp_ntz").as("cstart"),
          date_add(lit("2024-01-01").cast("date"), col("w") * 7 + lit(10))
            .cast("timestamp_ntz").as("cend"))
      Retrieval.intervalJoin(
          Tables.events(s, dir).select(col("event_id"), col("user_id"),
            col("event_type"), col("ts")),
          campaigns, Seq("event_type"), "ts", "cstart", "cend")
        .select(col("event_id"), col("campaign_id"))
        .orderBy("event_id", "campaign_id")
    }),
    "q_group_kfold" -> ((s, dir) =>
      // entity-leakage-safe CV folds: all of a user's events share a fold
      Sampling.groupKFold(
          Tables.events(s, dir).select(col("event_id"), col("user_id")),
          "user_id", k = 5)
        .orderBy("event_id")),
    "q_negative_downsample" -> ((s, dir) =>
      // CTR-style class rebalance: keep all purchases, 25% of the rest,
      // 1/rate importance weight on survivors
      Sampling.negativeDownsample(
          Tables.events(s, dir).select(col("event_id"), col("event_type")),
          "event_id", col("event_type") === "purchase", rate = 0.25)
        .select(col("event_id"), col("label"), col("weight"))
        .orderBy("event_id")),
    "q_quality_windows" -> ((s, dir) =>
      Quality.windowedReport(
        Tables.events(s, dir).withColumn("ts", col("ts").cast("timestamp_ntz")),
        "ts", Seq(
          Quality.NotNull("user_id"),
          Quality.Between("value", 0.0, 400.0),
          Quality.InSet("event_type", Seq("click", "view", "purchase",
            "signup", "error"))))),
  )
}
