package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Materialize, Retrieval}

/** A registered feature view: an event-time keyed feature source plus the
  * metadata retrieval needs (reference: feature view definitions in
  * `feature_repo/features.py` — entity key, event timestamp, TTL, schema).
  */
case class FeatureView(
    name: String,
    source: DataFrame,
    entityCol: String,
    tsCol: String,
    tiebreakCol: String,
    features: Seq[String],
    ttl: String = "INTERVAL 7 DAYS")

/** The reference's user-facing feature-store API, re-expressed over the
  * engine's operators — the facade a user switching from the reference
  * calls instead of Feast:
  *
  *  - `applyView`          ≙ `feast apply` (register a view)
  *  - `materialize`        ≙ `feast materialize` (A12 latest-per-key)
  *  - `materializeIncremental` ≙ `feast materialize-incremental`
  *  - `getHistoricalFeatures`  ≙ offline point-in-time retrieval (J1 as-of
  *                               join with TTL, `view__feature` columns)
  *  - `getOnlineFeatures`      ≙ online lookup (J2/J3 broadcast point read)
  *  - `freshness`              ≙ the registry's `feature_freshness` table
  *
  * Every method returns a lazy DataFrame plan built from the same
  * oracle-verified operators the query registry exercises; materialized
  * snapshots are cached per view (at 100 TB they'd be the date-partitioned
  * offline store / online K-V store instead — `Sources.writeOfflineStore`
  * and `streaming.Pipeline.onlineStoreSink` are those paths).
  */
class FeatureStore(@annotation.unused spark: SparkSession) {

  private val views = scala.collection.mutable.LinkedHashMap[String, FeatureView]()
  private val snapshots = scala.collection.mutable.LinkedHashMap[String, DataFrame]()

  def applyView(view: FeatureView): Unit = {
    views(view.name) = view
    // a re-registered view must not serve the previous source's snapshot
    snapshots.remove(view.name).foreach(_.unpersist())
  }

  def view(name: String): FeatureView =
    views.getOrElse(name, throw new NoSuchElementException(
      s"feature view '$name' not registered"))

  /** Latest-per-key snapshot of a view; cached for online reads. */
  def materialize(name: String): DataFrame = {
    val v = view(name)
    val snap = Materialize.latestPerKey(
        v.source, v.entityCol, v.tsCol, v.tiebreakCol)
      .select((v.entityCol +: v.tsCol +: v.tiebreakCol +: v.features).distinct.map(col): _*)
      .cache()
    snapshots.remove(name).foreach(_.unpersist()) // don't leak the old cache
    snapshots(name) = snap
    snap
  }

  /** Fold new rows into the existing snapshot (materialize-incremental):
    * touches |snapshot| + |delta| rows, never the full history.
    */
  def materializeIncremental(name: String, delta: DataFrame): DataFrame = {
    val v = view(name)
    val base = snapshots.getOrElse(name, materialize(name))
    val folded = Materialize.incremental(
        base,
        delta.select((v.entityCol +: v.tsCol +: v.tiebreakCol +: v.features).distinct.map(col): _*),
        v.entityCol, v.tsCol, v.tiebreakCol)
      .cache()
    // materialize the fold BEFORE unpersisting its own input snapshot
    folded.count()
    snapshots.remove(name).foreach(_.unpersist())
    snapshots(name) = folded
    folded
  }

  /** Point-in-time correct training frame: each entity row gets the newest
    * feature values as of its own timestamp, within the view's TTL —
    * `view__feature` columns, probe payload untouched.
    */
  def getHistoricalFeatures(entityDf: DataFrame, name: String,
                            probeTs: String): DataFrame =
    getHistoricalFeaturesMulti(entityDf, Seq(name), probeTs)

  /** Point-in-time training frame across SEVERAL views in one call — the
    * reference API's multi-view feature list. The as-of joins CHAIN on
    * the accumulating probe frame: one hash shuffle per view's features,
    * while views on the same entity column reuse the probe frame's
    * partitioning and order. The frame only ever carries probe columns +
    * already-joined `view__feature` columns, never a view×view product.
    * Views may key on different entity columns as long as the probe frame
    * carries each one; feature column names must not collide with probe
    * columns.
    */
  def getHistoricalFeaturesMulti(entityDf: DataFrame, names: Seq[String],
                                 probeTs: String): DataFrame =
    names.foldLeft(entityDf) { (acc, n) =>
      val v = view(n)
      val joined = Retrieval.asOfJoin(acc, v.source, v.entityCol, probeTs,
        v.tsCol, v.ttl, v.features)
      Retrieval.selectFeatureRefs(joined, v.name, v.features,
        acc.columns.toSeq)
    }

  /** Multi-view online read: one `req_idx` stamp up front, then a chained
    * broadcast point lookup per view — responses align to the request
    * order with every view's `view__feature` columns side by side. The
    * request-sized frame is ordered in one partition (`coalesce(1)` and a
    * local sort), not range-partitioned: no sampling job, no shuffle.
    */
  def getOnlineFeaturesMulti(keys: DataFrame, names: Seq[String]): DataFrame = {
    // req_idx leads the response columns
    val stamped = keys.select(
      monotonically_increasing_id().as("req_idx") +:
        keys.columns.map(col).toSeq: _*)
    names.foldLeft(stamped) { (acc, n) =>
      val v = view(n)
      val snap = snapshots.getOrElse(n, materialize(n))
      Retrieval.selectFeatureRefs(
        Retrieval.pointLookup(acc, snap, v.entityCol), v.name, v.features,
        acc.columns.toSeq)
    }.coalesce(1).sortWithinPartitions("req_idx")
  }

  /** Online read: broadcast point lookup against the materialized
    * snapshot, `view__feature` columns like the reference's serving path.
    * Responses align to the REQUEST order (SURVEY §3.3,
    * `inference_service.py:107-135`): every row carries its `req_idx`
    * stamp and the frame is ordered by it — callers zip the response
    * against the request batch without re-sorting by key.
    */
  def getOnlineFeatures(keys: DataFrame, name: String): DataFrame =
    getOnlineFeaturesMulti(keys, Seq(name))

  /** Registry freshness over every registered view. */
  def freshness(): DataFrame =
    Materialize.freshness(views.values.toSeq.map(v =>
      (v.name, v.source, v.tsCol)))
}
