package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Online-store materialization operators (SURVEY.md §2.3 A12–A14).
  *
  * Models `feast materialize-incremental`
  * (`airflow/dags/feature_store_materialization.py:214-239`): reduce the
  * offline feature history to the newest row per entity key (the online
  * store's KV image), plus the registry freshness aggregate
  * (`init-scripts/01-init-db.sql:22-27`) and the post-materialization
  * coverage probe (`airflow/scripts/validate_online_store.py:102-135`).
  *
  * Scale posture: `latestPerKey` is an ASSOCIATIVE REDUCE — max over a
  * (ts, tiebreak, payload) struct — so it runs as a partial-then-final
  * aggregation: every map task collapses its share of a key to ONE row
  * before the shuffle. A 100:1 hot entity key therefore ships at most
  * #partitions rows, where the equivalent `row_number() OVER (PARTITION BY
  * key)` window would funnel the hot key's entire history into a single
  * sort task (AQE splits skewed joins, not skewed window partitions —
  * SkewSpec pins both the result equivalence and the plan shape). The
  * deterministic tiebreak keeps results reproducible under any
  * partitioning.
  */
object Materialize {

  /** A12: latest row per entity key ("materialize"). `tiebreak` makes row
    * selection deterministic when timestamps collide (SURVEY.md §5.3).
    *
    * Implemented as `max(struct(ts, tiebreak, rest…))` per key: struct
    * comparison is lexicographic, so the max is exactly the row the
    * `ORDER BY ts DESC, tiebreak DESC` window would rank first (struct
    * NULL fields sort first = NULLS LAST under desc, same as the window).
    * The tiebreak is unique per (key, ts) by contract, so payload fields
    * are never actually compared — but Catalyst requires the whole struct
    * be ORDERABLE at analysis time, so histories carrying an un-orderable
    * payload column (e.g. a map) fall back to the window form, which only
    * orders by (ts, tiebreak).
    */
  def latestPerKey(history: DataFrame, key: String, ts: String,
                   tiebreak: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val rest = history.columns.filterNot(c => c == key || c == ts || c == tiebreak)
    val orderable = history.schema.fields
      .filter(f => rest.contains(f.name))
      .forall(f => RowOrdering.isOrderable(f.dataType))
    if (!orderable) {
      val w = Window.partitionBy(col(key))
        .orderBy(col(ts).desc, col(tiebreak).desc)
      history
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    } else {
      // each column packed once: the tiebreak may be the ts column itself
      val packed = struct((Seq(ts, tiebreak).distinct ++ rest).map(c => col(s"`$c`")): _*)
      history
        .groupBy(col(key))
        .agg(max(packed).as("__m"))
        .select(history.columns.toSeq.map { c =>
          if (c == key) col(s"`$c`") else col(s"__m.`$c`").as(c)
        }: _*)
    }
  }

  /** Snapshot time travel: the online store as it WOULD have looked at
    * `asOf` — latest row per key over only the history at or before the
    * cutoff. The reproducibility primitive behind "retrain with the
    * features the model actually saw on date X"; over a date-partitioned
    * offline store the cutoff predicate is a partition-pruning hit, so
    * the reconstruction reads only the ≤asOf partitions.
    */
  def snapshotAsOf(history: DataFrame, key: String, ts: String,
                   tiebreak: String, asOf: String): DataFrame =
    latestPerKey(
      history.filter(col(ts) <= lit(asOf).cast("timestamp_ntz")),
      key, ts, tiebreak)

  /** A12 incremental: `feast materialize-incremental`'s contract
    * (`README.md:124-127`, DAG step `feature_store_materialization.py:214-239`)
    * — fold a batch of NEW feature rows into an existing online snapshot,
    * keeping the newest row per key across both. Equivalent to
    * `latestPerKey(full history)` but touches only |snapshot| + |delta|
    * rows — the point of incremental materialization at scale.
    */
  def incremental(snapshot: DataFrame, delta: DataFrame, key: String,
                  ts: String, tiebreak: String): DataFrame =
    latestPerKey(snapshot.unionByName(delta), key, ts, tiebreak)

  /** A13: registry freshness — per feature view: last update + row count
    * (the `feature_freshness` table, `01-init-db.sql:22-27`).
    */
  def freshness(views: Seq[(String, DataFrame, String)]): DataFrame = {
    val perView = views.map { case (name, df, ts) =>
      df.agg(
        max(col(ts)).as("last_updated_at"),
        count(lit(1)).as("row_count")
      ).select(lit(name).as("feature_view_name"), col("last_updated_at"),
        col("row_count"))
    }
    perView.reduce(_.unionByName(_)).orderBy("feature_view_name")
  }

  /** A14: coverage ratio — fraction of probed entities whose online features
    * are non-null (`validate_online_store.py:102-135`). One row.
    */
  def coverage(probed: DataFrame, featureCol: String): DataFrame =
    probed.agg(
      count(lit(1)).as("probed"),
      sum(when(col(featureCol).isNotNull, 1L).otherwise(0L)).as("covered"),
      round(
        sum(when(col(featureCol).isNotNull, 1.0).otherwise(0.0)) / count(lit(1)),
        6
      ).as("coverage_ratio")
    )

  /** Right-to-be-forgotten purge with an audit row — remove every row
    * whose key appears in the deletion request set and account for it:
    * the GDPR/CCPA maintenance pass an online/offline store must run and
    * PROVE it ran. Returns the audit (rows before/purged/after, keys
    * requested / actually hit) — the purged data itself is
    * [[purgeKeys]]'s output; the audit is what gets filed.
    *
    * The request set joins as a broadcast anti/semi pair when small (the
    * normal case — deletion requests are human-scale) and falls back to a
    * shuffled join for bulk erasure; counts come from predicate
    * aggregates, the row data never moves to the driver.
    */
  def purgeKeys(df: DataFrame, keyCol: String, requests: DataFrame,
                reqCol: String): DataFrame =
    df.join(broadcast(requests.select(col(reqCol).as(keyCol)).distinct()),
      Seq(keyCol), "left_anti")

  /** The audit row for [[purgeKeys]] — computed from the same plan shape
    * so the numbers are the ones the purge actually enacted.
    */
  def purgeAudit(df: DataFrame, keyCol: String, requests: DataFrame,
                 reqCol: String): DataFrame = {
    val reqs = requests.select(col(reqCol).as(keyCol)).distinct()
    val marked = df.join(broadcast(reqs.withColumn("__req", lit(1))),
      Seq(keyCol), "left")
    val total = reqs.agg(count(lit(1)).as("keys_requested"))
    marked.agg(
        count(lit(1)).as("rows_before"),
        sum(when(col("__req").isNotNull, 1L).otherwise(0L)).as("rows_purged"),
        countDistinct(when(col("__req").isNotNull, col(keyCol)))
          .as("keys_hit"))
      .crossJoin(broadcast(total))
      .select(col("rows_before"), col("rows_purged"),
        (col("rows_before") - col("rows_purged")).as("rows_after"),
        col("keys_requested"), col("keys_hit"))
  }

  /** One row of a cascading-erasure manifest: how many of `df`'s rows a
    * deletion-key set hits, in ONE pass over the table (broadcast-join
    * the bounded key set — GDPR batches are human-scale — then a
    * predicate aggregate; set `hintBroadcast = false` for derived key
    * sets whose size is data-proportional, e.g. the order keys of purged
    * customers, and let Catalyst/AQE pick the join). NULL keys never
    * match a request — they count as retained, the LEFT-JOIN semantics
    * both engines share (a `NOT IN` would turn them into silent drops).
    */
  def purgeManifestRow(name: String, df: DataFrame, keyCol: String,
                       keys: DataFrame, kCol: String,
                       hintBroadcast: Boolean = true): DataFrame = {
    val k0 = keys.select(col(kCol).as("__k")).distinct()
    val k = if (hintBroadcast) broadcast(k0) else k0
    df.join(k, col(keyCol) === col("__k"), "left")
      .agg(count(lit(1)).cast("long").as("n_total"),
        sum(when(col("__k").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("n_purged"))
      .select(lit(name).as("table_name"), col("n_total"), col("n_purged"),
        (col("n_total") - col("n_purged")).as("n_retained"),
        round(col("n_purged").cast("double") / col("n_total"), 6)
          .as("purge_share"))
  }

  /** Snapshot diff — what changed in the online store between two as-of
    * cutoffs: per key, `added` (absent at t1, present at t2), `removed`
    * (the reverse; impossible over append-only history but real when
    * diffing two independently-materialized stores), `changed` (present in
    * both with different `valueCol`). Keys whose value is IDENTICAL at
    * both cutoffs — including refreshed-but-equal rows — are dropped: a
    * 100 TB diff must emit the delta, never the store. The governance
    * primitive behind "what did yesterday's materialization actually
    * touch?" and rollback review.
    *
    * Both sides are [[snapshotAsOf]] aggregates hash-partitioned on the
    * key, so the full-outer join reuses that partitioning — ONE shuffle
    * axis end to end, no exchange between the snapshots and the join.
    * NULL-safe value compare (`<=>`): NULL→value and value→NULL count as
    * changed, NULL→NULL as unchanged.
    */
  def snapshotDiff(history: DataFrame, key: String, ts: String,
                   tiebreak: String, valueCol: String,
                   asOf1: String, asOf2: String): DataFrame = {
    val old = snapshotAsOf(history, key, ts, tiebreak, asOf1)
      .select(col(key), col(ts).as("old_ts"), col(valueCol).as("old_value"))
    val neu = snapshotAsOf(history, key, ts, tiebreak, asOf2)
      .select(col(key), col(ts).as("new_ts"), col(valueCol).as("new_value"))
    old.join(neu, Seq(key), "full_outer")
      .withColumn("status",
        when(col("old_ts").isNull, "added")
          .when(col("new_ts").isNull, "removed")
          .when(col("old_value") <=> col("new_value"), "unchanged")
          .otherwise("changed"))
      .filter(col("status") =!= "unchanged")
      .select(col(key), col("status"), col("old_ts"), col("new_ts"),
        col("old_value"), col("new_value"))
  }

  /** SCD type-2 interval construction: collapse a per-key attribute
    * history into validity intervals `[valid_from, valid_to)` — one row
    * per RUN of consecutive equal attribute values, newest run open
    * (`valid_to` NULL, `is_current` true). This is the versioned-dimension
    * form every feature registry needs for time travel: [[snapshotAsOf]]
    * answers "value at T" by scanning history; the SCD2 table answers it
    * with a single interval probe (pair with
    * [[graft.ops.Retrieval.intervalJoin]]).
    *
    * Plan: one per-key (ts, id) window computes `lag` (run-boundary
    * detection, NULL-safe so NULL→NULL is "unchanged") and a running
    * boundary count (the run id) in the SAME window pass; the run groupBy
    * re-shuffles on (key, run) — both stages per-key-bounded, no
    * corpus-wide sort, skew bounded by one key's history. A second tiny
    * per-key window over the RUNS (rows = #runs per key, not #events)
    * chains `valid_to = next run's valid_from`.
    *
    * Reference: ML-Feature-Store-Enterprise-Grade
    * `init-scripts/01-init-db.sql:22-59` keeps only the latest registry
    * row; SCD2 is the standard generalization that preserves history.
    */
  def scd2(history: DataFrame, key: String, ts: String, id: String,
           attrCol: String): DataFrame = {
    val reserved = Seq("__prev", "__run", "valid_from", "valid_to",
      "last_ts", "n_rows", "is_current")
    require(!reserved.exists(history.columns.contains),
      s"scd2: input already has one of ${reserved.mkString(", ")}")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val running = w.rowsBetween(Window.unboundedPreceding, 0)
    val runs = history
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      // NULL-safe inequality: first row of a key opens run 1; a NULL
      // attribute only opens a new run when the previous value differed
      .withColumn("__run",
        sum(when(!(col("__prev") <=> col(attrCol)), 1L).otherwise(0L))
          .over(running))
      .groupBy(col(key), col("__run"), col(attrCol))
      .agg(min(col(ts)).as("valid_from"), max(col(ts)).as("last_ts"),
        count(lit(1)).as("n_rows"))
    val byKey = Window.partitionBy(col(key)).orderBy(col("valid_from"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__run")
  }

  /** Incremental SCD2 maintenance — fold an APPEND-ONLY batch of new
    * events into an existing [[scd2]] table without re-reading history:
    * closed intervals pass through untouched; each key's OPEN interval
    * becomes a single virtual seed event (its attribute at its
    * `last_ts`, remembering `valid_from`/`n_rows`), the seed + new
    * events run the same run-collapse, and the seed run's provenance is
    * restored afterwards. Produces EXACTLY [[scd2]] of the full history
    * (the oracle replays the full-history SQL against this fold — the
    * [[incremental]] snapshot convention).
    *
    * Append-only contract, enforced fail-loud IN-PLAN: a new event at or
    * before its key's open-interval `last_ts` raises (out-of-order
    * arrivals would need the collapsed rows back — re-run [[scd2]] on
    * full history for that key instead).
    *
    * Plan: same per-key-bounded shapes as [[scd2]] over (seeds ∪ batch)
    * — history cost is one row per key regardless of how many events the
    * existing runs collapsed.
    */
  def scd2Incremental(existing: DataFrame, newEvents: DataFrame,
                      key: String, ts: String, id: String,
                      attrCol: String): DataFrame = {
    val closed = existing.filter(!col("is_current"))
      .select(col(key), col(attrCol), col("valid_from"), col("last_ts"),
        col("n_rows"), col("valid_to"), col("is_current"))
    val open = existing.filter(col("is_current"))
      .select(col(key), col(attrCol).as("__seedAttr"),
        col("valid_from").as("__seedFrom"), col("last_ts").as("__seedTs"),
        col("n_rows").as("__seedN"))
    // fail-loud append-only guard, riding in the ts column the collapse
    // sorts on (never prunable)
    val guarded = newEvents
      .join(open.select(col(key), col("__seedTs")), Seq(key), "left")
      .withColumn(ts,
        when(col("__seedTs").isNull || col(ts) > col("__seedTs"), col(ts))
          .otherwise(raise_error(concat(
            lit("scd2Incremental: new event at or before the open " +
              "interval's last_ts for key "), col(key).cast("string"),
            lit(" — append-only contract violated; rebuild this key " +
              "from full history")))))
      .drop("__seedTs")
    val seeds = open.select(col(key), col("__seedAttr").as(attrCol),
      col("__seedTs").as(ts), lit(Long.MinValue).as(id))
    val folded = scd2(
      guarded.select(col(key), col(ts), col(id), col(attrCol))
        .unionByName(seeds), key, ts, id, attrCol)
    // restore the seed run's provenance: its valid_from and the rows the
    // collapsed history already counted (seed itself counted once)
    // keyed join, NOT broadcast: the open-interval table is entity-grain
    // (one row per key) and shares the collapse's shuffle key
    folded
      .join(open.select(col(key), col("__seedFrom"),
        col("__seedTs"), col("__seedN")), Seq(key), "left")
      .withColumn("__isSeedRun",
        col("__seedTs").isNotNull && col("valid_from") === col("__seedTs"))
      .withColumn("valid_from",
        when(col("__isSeedRun"), col("__seedFrom")).otherwise(col("valid_from")))
      .withColumn("n_rows",
        when(col("__isSeedRun"), col("n_rows") + col("__seedN") - 1L)
          .otherwise(col("n_rows")))
      .drop("__seedFrom", "__seedTs", "__seedN", "__isSeedRun")
      .unionByName(closed.select(col(key), col(attrCol), col("valid_from"),
        col("last_ts"), col("n_rows"), col("valid_to"), col("is_current")))
  }

  /** Backfill grid: the latest-per-key snapshot AS OF every cutoff in one
    * pass — the training-set backfill shape ("features as they stood at
    * each week end") that would otherwise run [[latestPerKey]] once per
    * cutoff, re-scanning history each time. One bounded ×|cutoffs| row
    * replication (the sliding-window trick) feeding ONE max(struct)
    * aggregation on (key, cutoff) — same skew-proof partial-agg shape as
    * the single-snapshot fold; rows where no history precedes the cutoff
    * simply don't appear (no as-of row exists yet).
    */
  def snapshotSeries(history: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, cutoffs: Seq[String],
                     payloadCols: Seq[String]): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.size <= 1000,
      s"snapshotSeries: 1..1000 cutoffs (got ${cutoffs.size})")
    val cuts = array(cutoffs.map(c =>
      lit(c).cast("timestamp_ntz")): _*)
    // each column packed once, the (ts, tie) prefix leading the order
    val packedCols = (Seq(tsCol, tieCol) ++ payloadCols).distinct
    history
      .withColumn("cutoff", explode(cuts))
      .filter(col(tsCol) <= col("cutoff"))
      .groupBy(col(keyCol), col("cutoff"))
      .agg(max(struct(packedCols.map(col): _*)).as("__last"))
      .select(col("cutoff") +: col(keyCol) +:
        packedCols.map(c => col(s"__last.$c").as(c)): _*)
      .orderBy("cutoff", keyCol)
  }

  /** Apply a CDC changelog (upserts AND deletes) to produce the current
    * snapshot — the MERGE INTO semantics a feature store consuming a
    * Debezium/CDC feed needs, where [[latestPerKey]] alone is wrong: a key
    * whose LAST change is a delete must vanish, not resurface its final
    * pre-delete payload.
    *
    * Same skew-proof shape as [[latestPerKey]]: ONE shuffled max(struct)
    * aggregation — the (ts, tie) prefix makes the struct comparison the
    * event-order comparison, and partial aggregation folds hot keys
    * map-side (no window, no per-key sort). The delete filter runs on the
    * one surviving row per key.
    */
  def applyChangelog(changelog: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, opCol: String, deleteOp: String,
                     payloadCols: Seq[String]): DataFrame = {
    // each column packed once, the (ts, tie) prefix leading the order
    val outCols = (Seq(tsCol, tieCol) ++ payloadCols).distinct
    val packed = (Seq(tsCol, tieCol, opCol) ++ payloadCols).distinct
    changelog
      .groupBy(col(keyCol))
      .agg(max(struct(packed.map(col): _*)).as("__last"))
      .filter(col(s"__last.$opCol") =!= deleteOp)
      .select(col(keyCol) +: outCols.map(c => col(s"__last.$c").as(c)): _*)
      .orderBy(keyCol)
  }
}
