package graft

import org.apache.spark.sql.functions._
import graft.ops.{Materialize, Retrieval}

/** The FeatureStore facade is a faithful composition of the verified
  * operators: materialize == latestPerKey, historical == as-of join,
  * online == point lookup, incremental fold == full-history snapshot.
  */
class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def ordersView = FeatureView(
    name = "orders",
    source = Tables.orders(spark, sfDir),
    entityCol = "o_custkey", tsCol = "o_orderdate", tiebreakCol = "o_orderkey",
    features = Seq("o_totalprice", "o_orderstatus"))

  test("materialize equals latestPerKey; online lookup serves view__feature columns") {
    val fs = new FeatureStore(spark)
    fs.applyView(ordersView)
    val snap = fs.materialize("orders")
    val direct = Materialize.latestPerKey(Tables.orders(spark, sfDir),
        "o_custkey", "o_orderdate", "o_orderkey")
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice", "o_orderstatus")
    assert(snap.exceptAll(direct).isEmpty && direct.exceptAll(snap).isEmpty)

    val keys = Tables.customer(spark, sfDir).select($"c_custkey".as("o_custkey")).limit(20)
    val online = fs.getOnlineFeatures(keys, "orders")
    assert(online.columns.toSet ==
      Set("req_idx", "o_custkey", "orders__o_totalprice",
        "orders__o_orderstatus"))
    assert(online.count() == 20)
  }

  test("online features align to the request order, misses included") {
    val fs = new FeatureStore(spark)
    fs.applyView(ordersView)
    // deliberately unsorted request batch with unknown entities interleaved
    val requested = Seq(901L, 7L, -5L, 3L, 9999999L, 1L)
    val keys = requested.toDF("o_custkey").repartition(3)
    val reqOrder = keys.select("o_custkey").collect().map(_.getLong(0)).toSeq
    val out = fs.getOnlineFeatures(keys, "orders").collect()
    // response row i is request row i — same keys, same order, misses kept
    assert(out.map(_.getLong(1)).toSeq == reqOrder)
    assert(out.length == requested.size)
    // at least the impossible keys are misses with NULL features
    val missIdx = reqOrder.zipWithIndex.filter(k => k._1 < 0 || k._1 > 999999)
    missIdx.foreach { case (_, i) => assert(out(i).isNullAt(2)) }
  }

  test("online read of an empty request is an empty frame; duplicate keys " +
      "over 3 partitions keep request order and rows") {
    val fs = new FeatureStore(spark)
    fs.applyView(ordersView)
    val none = fs.getOnlineFeatures(Seq.empty[Long].toDF("o_custkey"), "orders")
    assert(none.columns.toSeq == Seq("req_idx", "o_custkey",
      "orders__o_totalprice", "orders__o_orderstatus"))
    assert(none.collect().isEmpty)
    val requested = Seq(7L, 3L, 7L, -5L, 1L, 3L, 7L)
    val keys = spark.sparkContext.parallelize(requested, 3).toDF("o_custkey")
    val out = fs.getOnlineFeatures(keys, "orders").collect()
    assert(out.map(_.getLong(1)).toSeq == requested)
    val idx = out.map(_.getLong(0)).toSeq
    assert(idx == idx.sorted && idx.distinct.size == requested.size)
    // a repeated key gets the same features at every position
    out.groupBy(_.getLong(1)).values.foreach(rs =>
      assert(rs.map(_.toSeq.drop(2)).distinct.length == 1))
    assert(out.filter(_.getLong(1) == -5L).forall(_.isNullAt(2)))
  }

  test("job budget: an online read of 3 keys is 2 jobs (the snapshot " +
      "broadcast and the collect)") {
    val fs = new FeatureStore(spark)
    fs.applyView(ordersView)
    fs.materialize("orders").count()
    val keys = Seq(7L, 3L, 1L).toDF("o_custkey")
    fs.getOnlineFeatures(keys, "orders").collect()
    assert(jobsIn(fs.getOnlineFeatures(keys, "orders").collect()) == 2)
  }

  test("incremental materialize fold equals the full-history snapshot") {
    val fs = new FeatureStore(spark)
    val o = Tables.orders(spark, sfDir)
    val cutoff = lit("1999-01-01").cast("timestamp_ntz")
    fs.applyView(ordersView.copy(name = "orders_pre",
      source = o.filter($"o_orderdate" < cutoff)))
    fs.materialize("orders_pre")
    val folded = fs.materializeIncremental("orders_pre",
      o.filter($"o_orderdate" >= cutoff))
    val full = new FeatureStore(spark)
    full.applyView(ordersView)
    val whole = full.materialize("orders")
    assert(folded.exceptAll(whole).isEmpty && whole.exceptAll(folded).isEmpty)
  }

  test("historical features are point-in-time correct with TTL") {
    val fs = new FeatureStore(spark)
    val feats = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-01-05 00:00:00"), 50.0)
    ).toDF("user_id", "fts", "fval")
    fs.applyView(FeatureView("purchases", feats, "user_id", "fts", "fval",
      Seq("fval"), ttl = "INTERVAL 7 DAYS"))
    val probes = Seq(
      (100L, 1L, ts("2024-01-06 00:00:00")), // sees day-5 value
      (101L, 1L, ts("2024-02-01 00:00:00"))  // beyond TTL -> null
    ).toDF("event_id", "user_id", "pts")
    val got = fs.getHistoricalFeatures(probes, "purchases", "pts")
      .select("event_id", "purchases__fval")
      .as[(Long, Option[Double])].collect().toMap
    assert(got(100L).contains(50.0))
    assert(got(101L).isEmpty)
    // matches the raw operator call
    val direct = Retrieval.asOfJoin(probes, feats, "user_id", "pts", "fts",
        "INTERVAL 7 DAYS", Seq("fval"))
      .select("event_id", "fval").as[(Long, Option[Double])].collect().toMap
    assert(got == direct)
  }

  test("freshness reports every registered view") {
    val fs = new FeatureStore(spark)
    fs.applyView(ordersView)
    fs.applyView(FeatureView("events", Tables.events(spark, sfDir),
      "user_id", "ts", "event_id", Seq("value")))
    val rows = fs.freshness().select("feature_view_name").as[String].collect().toSet
    assert(rows == Set("orders", "events"))
  }

  test("multi-view retrieval equals chained single-view calls") {
    val e = Tables.events(spark, sfDir)
    val probes = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts").limit(200)
    def latest(t: String, out: String) = e.filter($"event_type" === t)
      .groupBy($"user_id", $"ts".as("fts")).agg(max($"value").as(out))
    val fs = new FeatureStore(spark)
    fs.applyView(FeatureView("purchases", latest("purchase", "pv"),
      "user_id", "fts", "pv", Seq("pv")))
    fs.applyView(FeatureView("pageviews", latest("view", "vv"),
      "user_id", "fts", "vv", Seq("vv")))
    val multi = fs.getHistoricalFeaturesMulti(probes,
      Seq("purchases", "pageviews"), "ts")
    val chained = fs.getHistoricalFeatures(
      fs.getHistoricalFeatures(probes, "purchases", "ts")
        .withColumnRenamed("purchases__pv", "purchases__pv_keep"), // avoid re-projection loss
      "pageviews", "ts")
      .withColumnRenamed("purchases__pv_keep", "purchases__pv")
    assert(multi.columns.toSeq == Seq("event_id", "user_id", "ts",
      "purchases__pv", "pageviews__vv"))
    assert(multi.exceptAll(chained.select(multi.columns.map(col): _*)).isEmpty)
    assert(multi.count() == 200)
  }

  test("a second view on the same entity adds exactly one exchange: the " +
      "probe frame is not re-shuffled (AQE off)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = Tables.events(spark, sfDir)
    val probes = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    // plain scans as sources, so a view's own plan adds no exchange of
    // its own: what is counted is the join's shuffles
    def rows(t: String, out: String) = e.filter($"event_type" === t)
      .select($"user_id", $"ts".as("fts"), $"value".as(out))
    val fs = new FeatureStore(spark)
    fs.applyView(FeatureView("purchases", rows("purchase", "pv"),
      "user_id", "fts", "pv", Seq("pv")))
    fs.applyView(FeatureView("pageviews", rows("view", "vv"),
      "user_id", "fts", "vv", Seq("vv")))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def exchanges(names: Seq[String]) =
      fs.getHistoricalFeaturesMulti(probes, names, "ts")
        .queryExecution.executedPlan.collect {
          case x: ShuffleExchangeExec => x
        }.size
    try {
      val one = exchanges(Seq("purchases"))
      assert(exchanges(Seq("purchases", "pageviews")) == one + 1)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("multi-view online read aligns to request order with all views") {
    val e = Tables.events(spark, sfDir)
    def latest(t: String, out: String) = e.filter($"event_type" === t)
      .groupBy($"user_id", $"ts".as("fts")).agg(max($"value").as(out))
    val fs = new FeatureStore(spark)
    fs.applyView(FeatureView("purchases", latest("purchase", "pv"),
      "user_id", "fts", "pv", Seq("pv")))
    fs.applyView(FeatureView("pageviews", latest("view", "vv"),
      "user_id", "fts", "vv", Seq("vv")))
    val requested = Seq(42L, 7L, -1L, 13L)
    val keys = requested.toDF("user_id").repartition(2)
    val reqOrder = keys.collect().map(_.getLong(0)).toSeq
    val out = fs.getOnlineFeaturesMulti(keys,
      Seq("purchases", "pageviews")).collect()
    assert(out.head.schema.fieldNames.toSeq == Seq("req_idx", "user_id",
      "purchases__pv", "pageviews__vv"))
    assert(out.map(_.getLong(1)).toSeq == reqOrder)
  }

  test("nearestJoin: picks the closer side, tie goes to the earlier ref, " +
      "simultaneous ref scores gap 0, refless key yields NULL") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val events = Seq(
      // user 1: refs at 0s and 100s; probes at 10s (closer to 0), 70s
      // (closer to 100), 50s (exact tie → earlier ref, 0s)
      (1L, 1L, ts(0), "r"), (2L, 1L, ts(100), "r"),
      (3L, 1L, ts(10), "p"), (4L, 1L, ts(70), "p"), (5L, 1L, ts(50), "p"),
      // user 2: a ref exactly at the probe's timestamp → gap 0
      (6L, 2L, ts(5), "r"), (7L, 2L, ts(5), "p"),
      // user 3: probe with no refs at all
      (8L, 3L, ts(1), "p")
    ).toDF("event_id", "user_id", "ts", "kind")
    val out = Retrieval.nearestJoin(events, "user_id", "ts", "event_id",
        col("kind") === "p", col("kind") === "r")
      .select("event_id", "nearest_ref_ts", "gap_secs")
      .as[(Long, Option[java.sql.Timestamp], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(3L) == ((Some(ts(0)), Some(10.0))))
    assert(out(4L) == ((Some(ts(100)), Some(30.0))))
    assert(out(5L) == ((Some(ts(0)), Some(50.0))))  // tie → earlier
    assert(out(7L) == ((Some(ts(5)), Some(0.0))))   // simultaneous ref
    assert(out(8L) == ((None, None)))
    assert(out.size == 5)                           // refs not emitted
  }
  test("nearestJoin ≡ naive per-probe scan on random event streams " +
      "(property)") {
    val rnd = new scala.util.Random(4207)
    val rows = (1 to 600).map { i =>
      (i.toLong, (rnd.nextInt(12) + 1).toLong,
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
        if (rnd.nextBoolean()) "p" else "r")
    }
    val df = rows.toDF("event_id", "user_id", "ts", "kind")
    val got = graft.ops.Retrieval.nearestJoin(df, "user_id", "ts",
        "event_id", col("kind") === "p", col("kind") === "r")
      .select("event_id", "nearest_ref_ts")
      .as[(Long, Option[java.sql.Timestamp])].collect().toMap
    // naive: for each probe, scan the user's refs; tie -> earlier ref
    val byUser = rows.groupBy(_._2)
    val want = rows.filter(_._4 == "p").map { case (id, u, ts, _) =>
      val refs = byUser(u).filter(_._4 == "r").map(_._3)
      val best =
        if (refs.isEmpty) None
        else Some(refs.minBy(r =>
          (math.abs(r.getTime - ts.getTime), r.getTime)))
      id -> best
    }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, b) => assert(got(id) == b, s"probe $id") }
  }
}