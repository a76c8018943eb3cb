package graft

import org.apache.spark.sql.functions._
import graft.ops.Retrieval

/** J1 edge cases (SURVEY.md §7.3#2): TTL boundary inclusive, equal-timestamp
  * feature included, no history → NULL probe preserved, newest wins, NULL
  * keys and times match nothing, DATE and mixed timestamp types.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val features = Seq(
    (1L, ts("2024-01-01 00:00:00"), 10.0),
    (1L, ts("2024-01-05 00:00:00"), 50.0),
    (2L, ts("2024-01-03 00:00:00"), 30.0)
  ).toDF("user_id", "fts", "fval")

  private def asOf(probes: org.apache.spark.sql.DataFrame) =
    Retrieval.asOfJoin(probes, features, "user_id", "ts", "fts",
        "INTERVAL 7 DAYS", Seq("fval"))
      .select("event_id", "fval").as[(Long, Option[Double])]
      .collect().toMap

  test("newest feature within TTL wins") {
    val probes = Seq((100L, 1L, ts("2024-01-06 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(asOf(probes)(100L).contains(50.0))
  }

  test("feature at exactly probe ts is included") {
    val probes = Seq((101L, 1L, ts("2024-01-05 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(asOf(probes)(101L).contains(50.0))
  }

  test("feature at exactly ts - ttl is included (Feast boundary)") {
    val probes = Seq((102L, 2L, ts("2024-01-10 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(asOf(probes)(102L).contains(30.0))
  }

  test("feature older than TTL gives NULL, probe row preserved") {
    val probes = Seq((103L, 1L, ts("2024-02-01 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(asOf(probes)(103L).isEmpty)
  }

  test("probe before any feature gives NULL") {
    val probes = Seq((104L, 2L, ts("2024-01-01 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(asOf(probes)(104L).isEmpty)
  }

  test("entity with no history gives NULL") {
    val probes = Seq((105L, 99L, ts("2024-01-06 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(asOf(probes)(105L).isEmpty)
  }

  test("NULL value in the newest in-TTL feature row is NOT backfilled") {
    // newest row (day5) has v=NULL: point-in-time correct answer is NULL,
    // not the older day1 value (that pair never existed at probe time)
    val fs = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(5.0)),
      (1L, ts("2024-01-05 00:00:00"), None)
    ).toDF("user_id", "fts", "fval")
    val probes = Seq((201L, 1L, ts("2024-01-06 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    val out = Retrieval.asOfJoin(probes, fs, "user_id", "ts", "fts",
        "INTERVAL 7 DAYS", Seq("fval"))
      .select("event_id", "fval", "feature_ts")
      .as[(Long, Option[Double], Option[java.sql.Timestamp])].head()
    assert(out._2.isEmpty)
    assert(out._3.contains(ts("2024-01-05 00:00:00"))) // newest row matched
  }

  /** event_id → fval for probes `(event_id, user_id, s)` against features
    * `(user_id, s, fval)`, both time strings cast to the given types.
    */
  private def asOfTyped(probes: Seq[(Long, Option[Long], Option[String])],
                        pType: String,
                        feats: Seq[(Option[Long], Option[String], Double)],
                        fType: String) = {
    val p = probes.toDF("event_id", "user_id", "s")
      .selectExpr("event_id", "user_id", s"CAST(s AS $pType) AS ts")
    val f = feats.toDF("user_id", "s", "fval")
      .selectExpr("user_id", s"CAST(s AS $fType) AS fts", "fval")
    val out = Retrieval.asOfJoin(p, f, "user_id", "ts", "fts",
      "INTERVAL 7 DAYS", Seq("fval"))
    assert(out.schema("feature_ts").dataType == f.schema("fts").dataType)
    out.select("event_id", "fval").as[(Long, Option[Double])]
      .collect().toMap
  }

  private val epoch = Some("1970-01-01 00:00:00")

  test("a probe with a NULL key or time keeps its row with NULL features") {
    // a NULL read as its raw 0 would match key 0 / the epoch feature
    val got = asOfTyped(
      Seq((301L, None, epoch), (302L, Some(1L), None),
        (303L, Some(1L), epoch), (304L, Some(0L), epoch)), "timestamp",
      Seq((Some(0L), epoch, 1.0), (Some(1L), epoch, 2.0)), "timestamp")
    assert(got == Map(301L -> None, 302L -> None, 303L -> Some(2.0),
      304L -> Some(1.0)))
  }

  test("a feature row with a NULL key or time never matches") {
    val got = asOfTyped(
      Seq((311L, None, Some("2024-01-06 00:00:00")),
        (312L, Some(3L), Some("2024-01-06 00:00:00")),
        (313L, Some(0L), Some("2024-01-06 00:00:00")),
        (314L, Some(3L), Some("1970-01-02 00:00:00"))), "timestamp",
      Seq((None, Some("2024-01-05 00:00:00"), 70.0), (Some(3L), None, 80.0)),
      "timestamp")
    assert(got == Map(311L -> None, 312L -> None, 313L -> None, 314L -> None))
  }

  test("DATE times: the TTL counts days, a feature older than it gives NULL") {
    val got = asOfTyped(
      Seq((321L, Some(1L), Some("2024-01-05")),  // a year after: NULL
        (322L, Some(1L), Some("2023-01-08")),    // exactly ts - ttl
        (323L, Some(1L), Some("2023-01-09"))),   // one day past the TTL
      "date", Seq((Some(1L), Some("2023-01-01"), 5.0)), "date")
    assert(got == Map(321L -> None, 322L -> Some(5.0), 323L -> None))
  }

  test("mixed timestamp / timestamp_ntz times join on one time line") {
    val got = asOfTyped(
      Seq((331L, Some(1L), Some("2024-01-06 00:00:00")),
        (332L, Some(1L), Some("2024-01-14 00:00:00")),  // 01-07 == ts - ttl
        (333L, Some(1L), Some("2024-01-14 00:00:01"))), // 01-07 too old
      "timestamp_ntz",
      Seq((Some(1L), Some("2024-01-05 00:00:00"), 50.0),
        (Some(1L), Some("2024-01-07 00:00:00"), 70.0)), "timestamp")
    assert(got == Map(331L -> Some(50.0), 332L -> Some(70.0), 333L -> None))
  }

  test("a year-month TTL has no fixed length and is rejected") {
    val e = intercept[IllegalArgumentException] {
      Retrieval.asOfJoin(Seq((341L, 1L, ts("2024-01-06 00:00:00")))
          .toDF("event_id", "user_id", "ts"), features, "user_id", "ts",
        "fts", "INTERVAL 1 MONTH", Seq("fval"))
    }
    assert(e.getMessage.contains("INTERVAL 1 MONTH"))
  }

  test("futureLabels: horizon boundary inclusive, per-key isolation, " +
      "simultaneous target counts as after") {
    val ev = Seq(
      // user 1: view at 00:00, purchase at exactly +24h (inclusive → 1),
      // then a view with no later purchase
      (1L, 1L, ts("2024-01-01 00:00:00"), "view"),
      (2L, 1L, ts("2024-01-02 00:00:00"), "purchase"),
      (3L, 1L, ts("2024-01-03 00:00:00"), "view"),
      // user 2: purchase 24h+1s after the view → outside horizon
      (4L, 2L, ts("2024-01-01 00:00:00"), "view"),
      (5L, 2L, ts("2024-01-02 00:00:01"), "purchase"),
      // user 3: SIMULTANEOUS view+purchase — row order (id) decides
      (6L, 3L, ts("2024-01-01 00:00:00"), "view"),
      (7L, 3L, ts("2024-01-01 00:00:00"), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Retrieval.futureLabels(ev, "user_id", "ts", "event_id",
        col("event_type") === "purchase", "24 HOURS")
      .select("event_id", "label").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> true, 7L -> false))
    // a purchase before the row never labels it (forward-only)
    val backward = Seq(
      (1L, 9L, ts("2024-01-02 00:00:00"), "purchase"),
      (2L, 9L, ts("2024-01-03 00:00:00"), "view")
    ).toDF("event_id", "user_id", "ts", "event_type")
    assert(!Retrieval.futureLabels(backward, "user_id", "ts", "event_id",
        col("event_type") === "purchase", "24 HOURS")
      .filter($"event_id" === 2L).select("label").as[Boolean].head())
  }

  test("timeSinceTarget: strictly-prior target, NULL before first, " +
      "per-key isolation; transitionMatrix: hand-computed rows") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00"), "purchase"),
      (2L, 1L, ts("2024-01-01 00:00:10"), "view"),     // 10s after
      (3L, 1L, ts("2024-01-02 00:00:00"), "purchase"), // since FIRST: 86400
      (4L, 1L, ts("2024-01-02 00:00:05"), "view"),     // 5s after second
      (5L, 2L, ts("2024-01-01 00:00:00"), "view")      // other key: never
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Retrieval.timeSinceTarget(ev, "user_id", "ts", "event_id",
        col("event_type") === "purchase")
      .select("event_id", "secs_since_target")
      .as[(Long, Option[Double])].collect().toMap
    assert(out == Map(1L -> None, 2L -> Some(10.0), 3L -> Some(86400.0),
      4L -> Some(5.0), 5L -> None))
    val tm = Retrieval.transitionMatrix(ev, "user_id", "ts", "event_id",
        "event_type")
      .as[(String, String, Long, Double)].collect().toSeq
    // user1 chain: purchase→view→purchase→view; user2 contributes none
    assert(tm == Seq(("purchase", "view", 2L, 1.0),
      ("view", "purchase", 1L, 1.0)))
  }

  test("intervalJoin ≡ naive containment join; equi plan, no nested loop; " +
      "half-open bounds; guards raise") {
    val pts = (1L to 200L).map(i => (i, s"k${i % 3}",
      ts("2024-01-01 00:00:00").toLocalDateTime.plusHours(i).toString
        .replace('T', ' '))).toDF("id", "k", "s")
      .withColumn("pt", $"s".cast("timestamp_ntz")).drop("s")
    val ivs = Seq(
      ("k0", "a", "2024-01-01 12:00:00", "2024-01-03 00:00:00"),
      ("k0", "b", "2024-01-02 00:00:00", "2024-01-05 06:00:00"), // overlaps a
      ("k1", "c", "2024-01-04 00:00:00", "2024-01-04 00:00:01"), // sub-bin
      ("k2", "d", "2024-01-01 00:00:00", "2024-01-09 00:00:00")
    ).toDF("k", "iv", "s0", "s1")
      .withColumn("start", $"s0".cast("timestamp_ntz"))
      .withColumn("end", $"s1".cast("timestamp_ntz")).drop("s0", "s1")
    val out = Retrieval.intervalJoin(pts, ivs, Seq("k"), "pt", "start", "end")
    val naive = pts.join(ivs, Seq("k"))
      .filter($"pt" >= $"start" && $"pt" < $"end")
    assert(out.select("id", "iv").exceptAll(naive.select("id", "iv")).isEmpty)
    assert(naive.select("id", "iv").exceptAll(out.select("id", "iv")).isEmpty)
    // a point exactly at start matches; exactly at end does not
    val edge = Seq((1L, "k0", "2024-01-01 12:00:00"),
        (2L, "k0", "2024-01-03 00:00:00")).toDF("id", "k", "s")
      .withColumn("pt", $"s".cast("timestamp_ntz")).drop("s")
    val hits = Retrieval.intervalJoin(edge, ivs, Seq("k"), "pt", "start", "end")
      .filter($"iv" === "a").select("id").as[Long].collect().toSet
    assert(hits == Set(1L))
    // the physical plan is an equi join — never a nested-loop/cartesian
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"))
    // empty interval and over-wide interval raise in-plan
    val bad = Seq(("k0", "z", "2024-01-02 00:00:00", "2024-01-02 00:00:00"))
      .toDF("k", "iv", "s0", "s1")
      .withColumn("start", $"s0".cast("timestamp_ntz"))
      .withColumn("end", $"s1".cast("timestamp_ntz")).drop("s0", "s1")
    val e1 = intercept[Exception] {
      Retrieval.intervalJoin(pts, bad, Seq("k"), "pt", "start", "end").collect()
    }
    assert(e1.getMessage.contains("empty interval"))
    val e2 = intercept[Exception] {
      Retrieval.intervalJoin(pts, ivs, Seq("k"), "pt", "start", "end",
        binMicros = 1000000L, maxBinsPerInterval = 10).collect()
    }
    assert(e2.getMessage.contains("maxBinsPerInterval"))
  }

  test("markovSteadyState: two-state chain converges to the closed form " +
      "(1/3, 2/3); terminal state self-loops and absorbs") {
    // sequence a,b,b,a,b -> P(a)=[0,1], P(b)=[1/2,1/2]; pi = (1/3, 2/3)
    val ev = Seq("a", "b", "b", "a", "b").zipWithIndex.map { case (s, i) =>
      (i.toLong, 1L, ts(f"2024-01-01 00:00:${i}%02d"), s)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val pi = graft.ops.Retrieval.markovSteadyState(ev, "user_id", "ts",
        "event_id", "event_type")
      .as[(String, Double)].collect().toMap
    assert(pi == Map("a" -> 0.333333, "b" -> 0.666667))
    // c only ever receives (never emits): self-loop completion makes it
    // absorbing, so all stationary mass collapses onto it
    val ev2 = Seq("a", "b", "a", "c").zipWithIndex.map { case (s, i) =>
      (i.toLong, 1L, ts(f"2024-01-01 00:00:${i}%02d"), s)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val pi2 = graft.ops.Retrieval.markovSteadyState(ev2, "user_id", "ts",
        "event_id", "event_type", iterations = 60)
      .as[(String, Double)].collect().toMap
    assert(pi2("c") > 0.99)
  }

  test("markovEntropyRate: a deterministic cycle scores 0 nats / " +
      "predictability 1; a half-random state scores pi_a*ln2") {
    // a,b,a,b: P(a)=[0,1], P(b)=[1,0] — fully deterministic
    val det = Seq("a", "b", "a", "b").zipWithIndex.map { case (s, i) =>
      (i.toLong, 1L, ts(f"2024-01-01 00:00:${i}%02d"), s)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val d = graft.ops.Retrieval.markovEntropyRate(det, "user_id", "ts",
      "event_id", "event_type").collect()
    assert(d.forall(_.getAs[Double]("entropy_rate") == 0.0))
    assert(d.forall(_.getAs[Double]("predictability") == 1.0))
    // a,a,b,a,a,b,a: P(a)=[1/2,1/2], P(b)=[1,0] -> pi=(2/3,1/3),
    // H_a = ln 2, H_b = 0 -> rate = 2/3 ln 2, pred = 1/3
    val half = Seq("a", "a", "b", "a", "a", "b", "a").zipWithIndex.map {
      case (s, i) => (i.toLong, 1L, ts(f"2024-01-01 00:00:${i}%02d"), s)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val h = graft.ops.Retrieval.markovEntropyRate(half, "user_id", "ts",
      "event_id", "event_type").collect()
      .map(r => r.getAs[String]("state") ->
        (r.getAs[Double]("h_state"), r.getAs[Double]("entropy_rate"),
          r.getAs[Double]("predictability"))).toMap
    assert(h("a")._1 == 0.693147 && h("b")._1 == 0.0)
    assert(h("a")._2 == 0.462098)
    assert(h("a")._3 == 0.333333)
    intercept[IllegalArgumentException] {
      graft.ops.Retrieval.markovEntropyRate(det, "user_id", "ts",
        "event_id", "event_type", expectedStates = Seq("a", "b", "c"))
    }
  }

  test("markovHittingSteps: closed-form hitting times on the two-state " +
      "chain; target reports 0; unknown target fails loud") {
    // P(a)=[0,1], P(b)=[1/2,1/2]; h(b) = 0; h(a) = 1 + h(b) = 1? target b:
    // h(a) = 1 + 1*h(b) = 1; check also target a: h(b) = 1 + 0.5*h(b)
    // -> h(b) = 2
    val ev = Seq("a", "b", "b", "a", "b").zipWithIndex.map { case (s, i) =>
      (i.toLong, 1L, ts(f"2024-01-01 00:00:${i}%02d"), s)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val hb = graft.ops.Retrieval.markovHittingSteps(ev, "user_id", "ts",
        "event_id", "event_type", target = "b")
      .as[(String, Double)].collect().toMap
    assert(hb == Map("a" -> 1.0, "b" -> 0.0))
    val ha = graft.ops.Retrieval.markovHittingSteps(ev, "user_id", "ts",
        "event_id", "event_type", target = "a", iterations = 200)
      .as[(String, Double)].collect().toMap
    assert(ha("a") == 0.0 && math.abs(ha("b") - 2.0) < 1e-4)
    intercept[IllegalArgumentException] {
      graft.ops.Retrieval.markovHittingSteps(ev, "user_id", "ts",
        "event_id", "event_type", target = "zz")
    }
  }

  test("markovAbsorbProb: fair competing risks give 1/2 from the " +
      "transient state; win and lose rows pin to 1 and 0") {
    // m -> w half the time, m -> l half the time; w and l terminal
    // sequences: m,w and m,l (two users)
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00"), "m"),
      (2L, 1L, ts("2024-01-01 00:00:01"), "w"),
      (3L, 2L, ts("2024-01-01 00:00:00"), "m"),
      (4L, 2L, ts("2024-01-01 00:00:01"), "l")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val a = graft.ops.Retrieval.markovAbsorbProb(ev, "user_id", "ts",
        "event_id", "event_type", win = "w", lose = "l")
      .as[(String, Double)].collect().toMap
    assert(a == Map("m" -> 0.5, "w" -> 1.0, "l" -> 0.0))
    intercept[IllegalArgumentException] {
      graft.ops.Retrieval.markovAbsorbProb(ev, "user_id", "ts",
        "event_id", "event_type", win = "w", lose = "w")
    }
  }

  test("pathTrigrams: per-key windows never cross users, counts and " +
      "shares fold, top-k cut is deterministic") {
    import spark.implicits._
    val rows = Seq((1L, 1, 1L, "a"), (1L, 2, 2L, "b"), (1L, 3, 3L, "c"),
      (1L, 4, 4L, "d"), (2L, 1, 5L, "a"), (2L, 2, 6L, "b"),
      (2L, 3, 7L, "c")).toDF("user_id", "ts", "event_id", "event_type")
    val all = graft.ops.Retrieval.pathTrigrams(rows, "user_id", "ts",
        "event_id", "event_type", k = 25)
      .as[(String, String, String, Long, Double)].collect()
    assert(all.toSet == Set(("a", "b", "c", 2L, 0.666667),
      ("b", "c", "d", 1L, 0.333333)))
    val top1 = graft.ops.Retrieval.pathTrigrams(rows, "user_id", "ts",
        "event_id", "event_type", k = 1)
      .as[(String, String, String, Long, Double)].collect()
    assert(top1.toSeq == Seq(("a", "b", "c", 2L, 0.666667)))
  }

  test("nextEventAccuracy: modal pick with lexicographic tie-break, " +
      "per-state fold matches the hand count") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1, 1L, "a"), (1L, 2, 2L, "b"), (1L, 3, 3L, "a"),
      (1L, 4, 4L, "b"), (1L, 5, 5L, "c"),
      (2L, 1, 6L, "a"), (2L, 2, 7L, "b"), (2L, 3, 8L, "a"), (2L, 4, 9L, "c"),
      // a 1-1 tie out of 'd': lexicographic winner 'x'
      (3L, 1, 10L, "d"), (3L, 2, 11L, "y"),
      (4L, 1, 12L, "d"), (4L, 2, 13L, "x"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = graft.ops.Retrieval.nextEventAccuracy(rows, "user_id", "ts",
        "event_id", "event_type")
      .as[(String, Long, String, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // from a: b,b,b,c -> modal b 3/4 ; from b: a,c,a -> modal a 2/3
    assert(out("a") == (("a", 4L, "b", 3L, 0.75)))
    assert(out("b") == (("b", 3L, "a", 2L, 0.666667)))
    assert(out("d") == (("d", 2L, "x", 1L, 0.5)))
    assert(!out.contains("c")) // terminal only — never a from-state
  }
}
