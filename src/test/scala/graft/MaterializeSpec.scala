package graft

import graft.ops.{Materialize, Retrieval}
import org.apache.spark.sql.functions.{col, lit}

/** A12–A14 semantics: latest-per-key determinism, freshness, coverage. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val history = Seq(
    (1L, ts("2024-01-01 00:00:00"), 10.0, 100L),
    (1L, ts("2024-01-02 00:00:00"), 20.0, 101L),
    (1L, ts("2024-01-02 00:00:00"), 30.0, 102L), // ts tie → higher tiebreak wins
    (2L, ts("2024-01-01 00:00:00"), 40.0, 103L)
  ).toDF("user_id", "fts", "fval", "seq")

  test("latest-per-key picks newest ts, tiebreaking deterministically") {
    val snap = Materialize.latestPerKey(history, "user_id", "fts", "seq")
      .select("user_id", "fval").as[(Long, Double)].collect().toMap
    assert(snap(1L) == 30.0)
    assert(snap(2L) == 40.0)
  }

  test("latest-per-key handles un-orderable payload columns (map) via window fallback") {
    import org.apache.spark.sql.functions.{lit, map}
    val withMap = history.withColumn("attrs", map(lit("a"), $"fval"))
    val snap = Materialize.latestPerKey(withMap, "user_id", "fts", "seq")
    val got = snap.select("user_id", "fval").as[(Long, Double)].collect().toMap
    assert(got(1L) == 30.0 && got(2L) == 40.0)
    assert(snap.columns.contains("attrs"))
  }

  test("tiebreak = ts column: FeatureStore.materialize, snapshotSeries and " +
      "applyChangelog pack it once") {
    val fs = new FeatureStore(spark)
    fs.applyView(FeatureView("hist", history, "user_id", "fts", "fts",
      Seq("fval")))
    val snap = fs.materialize("hist")
    assert(snap.columns.toSeq == Seq("user_id", "fts", "fval"))
    // unique (user_id, fts) rows: the newest ts alone picks the row
    val unique = history.filter($"seq" =!= 101L)
    val direct = Materialize.latestPerKey(unique, "user_id", "fts", "fts")
      .select("user_id", "fval").as[(Long, Double)].collect().toMap
    assert(direct == Map(1L -> 30.0, 2L -> 40.0))
    val series = Materialize.snapshotSeries(unique, "user_id", "fts", "fts",
        Seq("2024-01-31 00:00:00"), Seq("fts", "fval"))
    assert(series.columns.toSeq == Seq("cutoff", "user_id", "fts", "fval"))
    assert(series.select("user_id", "fval").as[(Long, Double)].collect()
      .toMap == direct)
    val log = unique.withColumn("op", lit("upsert"))
    val applied = Materialize.applyChangelog(log, "user_id", "fts", "fts",
        "op", "delete", Seq("fts", "fval"))
    assert(applied.columns.toSeq == Seq("user_id", "fts", "fval"))
    assert(applied.select("user_id", "fval").as[(Long, Double)].collect()
      .toMap == direct)
  }

  test("point lookup preserves missing entities as NULL rows (J2)") {
    val keys = Seq(1L, 2L, 99L).toDF("user_id")
    val snap = Materialize.latestPerKey(history, "user_id", "fts", "seq")
    val out = Retrieval.pointLookup(keys, snap, "user_id")
    assert(out.count() == 3)
    assert(out.filter($"fval".isNull).count() == 1)
  }

  test("coverage ratio counts non-null feature rows (A14)") {
    val keys = Seq(1L, 2L, 99L, 98L).toDF("user_id")
    val snap = Materialize.latestPerKey(history, "user_id", "fts", "seq")
    val probed = Retrieval.pointLookup(keys, snap, "user_id")
    val row = Materialize.coverage(probed, "fval")
      .select("probed", "covered", "coverage_ratio").head()
    assert(row.getLong(0) == 4 && row.getLong(1) == 2)
    assert(row.getDouble(2) == 0.5)
  }

  test("incremental materialization equals full-history snapshot (A12 inc)") {
    val old = Materialize.latestPerKey(history, "user_id", "fts", "seq")
    val delta = Seq(
      (1L, ts("2024-01-03 00:00:00"), 99.0, 200L),  // newer → replaces
      (3L, ts("2024-01-01 00:00:00"), 70.0, 201L)   // new entity → appears
    ).toDF("user_id", "fts", "fval", "seq")
    val inc = Materialize.incremental(old, delta, "user_id", "fts", "seq")
    val full = Materialize.latestPerKey(history.unionByName(delta),
      "user_id", "fts", "seq")
    assert(inc.collect().toSet == full.collect().toSet)
    val vals = inc.select("user_id", "fval").as[(Long, Double)].collect().toMap
    assert(vals == Map(1L -> 99.0, 2L -> 40.0, 3L -> 70.0))
  }

  test("freshness reports max ts and row count per view (A13)") {
    val f = Materialize.freshness(Seq(("h", history, "fts")))
      .select("feature_view_name", "row_count").head()
    assert(f.getString(0) == "h" && f.getLong(1) == 4)
  }

  test("snapshotAsOf reconstructs the store at a past cutoff") {
    val o = Tables.orders(spark, sfDir)
    val cutoff = "1997-06-01"
    val asOf = Materialize.snapshotAsOf(o, "o_custkey", "o_orderdate",
      "o_orderkey", cutoff)
    val direct = Materialize.latestPerKey(
      o.filter(col("o_orderdate") <= lit(cutoff).cast("timestamp_ntz")),
      "o_custkey", "o_orderdate", "o_orderkey")
    assert(asOf.exceptAll(direct).isEmpty && direct.exceptAll(asOf).isEmpty)
    // no row can postdate the cutoff
    assert(asOf.filter(col("o_orderdate") >
      lit(cutoff).cast("timestamp_ntz")).isEmpty)
    // a far-future cutoff equals the full snapshot
    val full = Materialize.latestPerKey(o, "o_custkey", "o_orderdate",
      "o_orderkey")
    val future = Materialize.snapshotAsOf(o, "o_custkey", "o_orderdate",
      "o_orderkey", "2099-01-01")
    assert(future.exceptAll(full).isEmpty && full.exceptAll(future).isEmpty)
  }

  test("purgeKeys removes exactly the requested keys; audit accounts " +
      "for every row including never-present request keys") {
    val data = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("user_id", "payload")
    val reqs = Seq(1L, 1L, 99L).toDF("uid") // dup request + absent key
    val purged = Materialize.purgeKeys(data, "user_id", reqs, "uid")
    assert(purged.select("user_id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L))
    val a = Materialize.purgeAudit(data, "user_id", reqs, "uid").head()
    assert((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3),
      a.getLong(4)) == ((4L, 2L, 2L, 2L, 1L)))
  }

  test("snapshotDiff: added / changed emitted, refreshed-but-equal and " +
      "untouched keys dropped, NULL-safe value compare") {
    val h = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(10.0), 100L), // unchanged key
      (2L, ts("2024-01-01 00:00:00"), Some(20.0), 101L),
      (2L, ts("2024-01-05 00:00:00"), Some(25.0), 102L), // changed at t2
      (3L, ts("2024-01-04 00:00:00"), Some(30.0), 103L), // added after t1
      (4L, ts("2024-01-01 00:00:00"), Some(40.0), 104L),
      (4L, ts("2024-01-05 00:00:00"), Some(40.0), 105L), // refreshed, equal
      (5L, ts("2024-01-01 00:00:00"), Some(50.0), 106L),
      (5L, ts("2024-01-05 00:00:00"), None, 107L)        // value → NULL
    ).toDF("user_id", "fts", "fval", "seq")
    val out = Materialize.snapshotDiff(h, "user_id", "fts", "seq", "fval",
        "2024-01-02 00:00:00", "2024-01-06 00:00:00")
      .select("user_id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "changed", 3L -> "added", 5L -> "changed"))
  }

  test("scd2: consecutive equal values collapse to one interval, " +
      "value flip-flops reopen runs, intervals chain exactly") {
    val h = Seq(
      // user 1: a a b a — four events, three runs (a reappears)
      (1L, ts("2024-01-01 00:00:00"), 11L, Some("a")),
      (1L, ts("2024-01-02 00:00:00"), 12L, Some("a")),
      (1L, ts("2024-01-03 00:00:00"), 13L, Some("b")),
      (1L, ts("2024-01-04 00:00:00"), 14L, Some("a")),
      // user 2: NULL NULL x — NULL run collapses, NULL→x is a boundary
      (2L, ts("2024-01-01 00:00:00"), 21L, None),
      (2L, ts("2024-01-02 00:00:00"), 22L, None),
      (2L, ts("2024-01-03 00:00:00"), 23L, Some("x"))
    ).toDF("user_id", "fts", "seq", "attr")
    val out = Materialize.scd2(h, "user_id", "fts", "seq", "attr")
      .select("user_id", "attr", "valid_from", "valid_to", "n_rows",
        "is_current")
      .as[(Long, Option[String], java.sql.Timestamp,
        Option[java.sql.Timestamp], Long, Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime))
    val u1 = out.filter(_._1 == 1L)
    assert(u1.map(_._2) sameElements Array(Some("a"), Some("b"), Some("a")))
    assert(u1.map(_._5) sameElements Array(2L, 1L, 1L))
    // each interval's valid_to is the next interval's valid_from
    assert(u1.init.map(_._4.get) sameElements u1.tail.map(_._3))
    assert(u1.map(_._6) sameElements Array(false, false, true))
    val u2 = out.filter(_._1 == 2L)
    assert(u2.map(_._2) sameElements Array(None, Some("x")))
    assert(u2.head._5 == 2L && u2.last._6)
    // round trip: interval row counts cover every source event
    assert(out.map(_._5).sum == 7L)
  }
  test("scd2Incremental: split-history fold equals full-history scd2 " +
      "(boundary-continuing runs, new keys, untouched keys); guard " +
      "fires on out-of-order batch") {
    val rnd = new scala.util.Random(1137)
    val attrs = Array("a", "b", "c")
    // 20 keys x ~30 events with frequent run-continuations across any cut
    val rows = (1 to 600).map { i =>
      (i.toLong, (i % 20).toLong + 1L,
        ts("2024-02-01 00:00:00").getTime + rnd.nextInt(500000) * 1000L,
        attrs(rnd.nextInt(3)))
    }.map(r => (r._1, r._2, new java.sql.Timestamp(r._3), r._4)) ++
      // key 77 exists ONLY before the cut; key 88 ONLY after
      Seq((9001L, 77L, ts("2024-02-01 01:00:00"), "a"),
        (9002L, 88L, ts("2024-02-20 01:00:00"), "b"))
    val df = rows.toDF("event_id", "user_id", "fts", "attr")
    val cut = ts("2024-02-04 00:00:00")
    val old = df.filter($"fts" < cut)
    val batch = df.filter($"fts" >= cut)
    def canon(d: org.apache.spark.sql.DataFrame) = d
      .select("user_id", "attr", "valid_from", "valid_to", "last_ts",
        "n_rows", "is_current")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp],
        java.sql.Timestamp, Long, Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    val full = canon(Materialize.scd2(df, "user_id", "fts", "event_id",
      "attr"))
    val inc = canon(Materialize.scd2Incremental(
      Materialize.scd2(old, "user_id", "fts", "event_id", "attr"),
      batch, "user_id", "fts", "event_id", "attr"))
    assert(inc == full)
    // guard: an event at/before the open interval's last_ts raises
    val stale = Seq((9100L, 1L, ts("2024-02-01 00:00:00"), "a"))
      .toDF("event_id", "user_id", "fts", "attr")
    val e = intercept[Exception] {
      Materialize.scd2Incremental(
        Materialize.scd2(old, "user_id", "fts", "event_id", "attr"),
        stale, "user_id", "fts", "event_id", "attr").collect()
    }
    assert(e.getMessage.contains("append-only contract violated"))
  }

  test("applyChangelog: last-writer wins, trailing tombstone removes the " +
      "key, delete-then-reinsert resurfaces it") {
    val log = Seq(
      // k1: upsert, upsert -> latest payload survives
      (1L, 10L, 1L, "upsert", "a"), (1L, 20L, 2L, "upsert", "b"),
      // k2: upsert then DELETE -> gone (latestPerKey would wrongly keep it)
      (2L, 10L, 3L, "upsert", "x"), (2L, 30L, 4L, "delete", "x"),
      // k3: delete then reinsert -> present with the new payload
      (3L, 10L, 5L, "delete", "y"), (3L, 40L, 6L, "upsert", "z"),
      // k4: same ts — tie broken by the tie column (larger id wins)
      (4L, 50L, 7L, "upsert", "old"), (4L, 50L, 8L, "upsert", "new")
    ).toDF("k", "ts", "id", "op", "payload")
    val out = Materialize.applyChangelog(log, "k", "ts", "id", "op",
      "delete", Seq("payload"))
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 20L, 2L, "b"), (3L, 40L, 6L, "z"),
      (4L, 50L, 8L, "new")))
  }

  test("snapshotSeries: one pass equals latestPerKey at every cutoff; " +
      "keys with no prior history absent from that cutoff") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val hist = Seq(
      (1L, t("2024-01-05 00:00:00"), 1L, 10.0),
      (1L, t("2024-02-05 00:00:00"), 2L, 11.0),
      (2L, t("2024-02-20 00:00:00"), 3L, 20.0)   // first appears in Feb
    ).toDF("k", "ts", "id", "v")
    val cutoffs = Seq("2024-01-31 23:59:59", "2024-02-28 23:59:59")
    val series = Materialize.snapshotSeries(hist, "k", "ts", "id",
      cutoffs, Seq("v"))
      .as[(java.sql.Timestamp, Long, java.sql.Timestamp, Long, Double)]
      .collect().toSeq
    // cutoff 1: only k=1 (v=10); cutoff 2: k=1 latest (11) and k=2 (20)
    assert(series.map(r => (r._1.toString.take(10), r._2, r._5)) ==
      Seq(("2024-01-31", 1L, 10.0),
        ("2024-02-28", 1L, 11.0), ("2024-02-28", 2L, 20.0)))
    // equivalence with per-cutoff latestPerKey
    cutoffs.foreach { c =>
      val one = Materialize.latestPerKey(
        hist.filter(col("ts") <= lit(c).cast("timestamp_ntz")),
        "k", "ts", "id")
        .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSet
      val fromSeries = series
        .filter(_._1 == java.sql.Timestamp.valueOf(c))
        .map(r => (r._2, r._5)).toSet
      assert(one == fromSeries, s"cutoff $c")
    }
  }

  test("purgeManifestRow: hit accounting, NULL keys retained, share math") {
    val t = Seq(Some(1L), Some(1L), Some(2L), Some(3L), None)
      .toDF("uid")
    val reqs = Seq(1L, 9L).toDF("k") // 9 hits nothing
    val row = Materialize.purgeManifestRow("t", t, "uid", reqs, "k")
      .as[(String, Long, Long, Long, Double)].head()
    // 2 rows of uid=1 purged; NULL uid never matches -> retained
    assert(row == (("t", 5L, 2L, 3L, 0.4)))
    // duplicate request keys must not double-count matched rows
    val dup = Seq(1L, 1L, 1L).toDF("k")
    val row2 = Materialize.purgeManifestRow("t", t, "uid", dup, "k")
      .as[(String, Long, Long, Long, Double)].head()
    assert(row2._3 == 2L && row2._2 == 5L)
  }
}