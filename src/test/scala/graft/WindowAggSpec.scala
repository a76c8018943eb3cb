package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.{Parse, WindowAgg}

/** A1–A9 semantics on the real corpus + window-shape invariants. */
class WindowAggSpec extends SparkSpec {
  import spark.implicits._

  private lazy val parsed = Parse.parseEvents(Tables.events(spark, sfDir))
  // (event_id, user_id, event_type, value, k, ts_parsed)
  private type Ev = (Long, Long, String, Option[Double], Option[Long],
    java.time.LocalDateTime)

  test("hourly feature counts reconcile with raw event counts") {
    val agg = WindowAgg.hourlyFeatures(parsed)
    val totalFromAgg = agg.agg(sum("total_events")).head().getLong(0)
    assert(totalFromAgg == parsed.count())
    val clicks = agg.agg(sum("click_count")).head().getLong(0)
    assert(clicks == parsed.filter($"event_type" === "click").count())
  }

  test("sliding windows assign each event to exactly 6 windows (1h/10min)") {
    val sliding = WindowAgg.slidingFeatures(parsed)
    val totalFromSliding = sliding.agg(sum("total_events")).head().getLong(0)
    assert(totalFromSliding == 6 * parsed.count())
  }

  test("windows are epoch-aligned and exactly one hour long") {
    val agg = WindowAgg.hourlyFeatures(parsed)
    val bad = agg.filter(
      unix_timestamp($"window_end") - unix_timestamp($"window_start") =!= 3600 ||
      unix_timestamp($"window_start") % 3600 =!= 0)
    assert(bad.count() == 0)
  }

  test("rates are NULL (not error) when denominator is zero — ANSI-safe") {
    val agg = WindowAgg.hourlyFeatures(parsed)
    val noViews = agg.filter($"view_count" === 0)
    if (noViews.count() > 0)
      assert(noViews.filter($"click_through_rate".isNotNull).count() == 0)
  }

  test("total_revenue only counts purchase events") {
    val agg = WindowAgg.hourlyFeatures(parsed)
    val fromAgg = agg.agg(round(sum("total_revenue"), 0)).head().getDouble(0)
    val raw = parsed.filter($"event_type" === "purchase")
      .agg(round(sum("value"), 0)).head().getDouble(0)
    assert(math.abs(fromAgg - raw) <= 1.0) // per-window rounding tolerance
  }

  test("rollingActiveUsers: WAU unions the trailing window exactly, " +
      "clipped edges, repeat visits dedup; sketch twin within tolerance") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // u1 every day 1-3; u2 on day 1 only (twice); u3 on day 3
    val ev = Seq((1L, t(1)), (1L, t(2)), (1L, t(3)),
        (2L, t(1)), (2L, t(1)), (3L, t(3)))
      .toDF("user_id", "ts")
      .withColumn("ts", $"ts".cast("timestamp_ntz"))
    val out = WindowAgg.rollingActiveUsers(ev, "user_id", "ts", windowDays = 2)
      .as[(java.sql.Date, Long, Long)].collect()
      .map(r => r._1.toString -> (r._2, r._3)).toMap
    assert(out == Map(
      "2024-01-01" -> ((2L, 2L)),   // day 1 alone: u1, u2
      "2024-01-02" -> ((1L, 2L)),   // dau u1; wau day1-2: u1, u2
      "2024-01-03" -> ((2L, 2L)))) // dau u1,u3; wau day2-3: u1, u3
    val chk = WindowAgg.rollingActiveUsersApproxChecked(
        ev, "user_id", "ts", windowDays = 2)
      .select("day", "wau_ok").as[(java.sql.Date, Boolean)].collect()
    assert(chk.length == 3 && chk.forall(_._2))
  }

  test("hourlyPartials one-scan keyed fold ≡ per-batch calls on generated " +
      "events (NULL k/value, hour boundaries, one user, empty), before " +
      "and after merge + finalize") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val h0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val hourMicros = 3600L * 1000000L
    // values are quarter units, so every double sum is exact in any order
    def gen(users: Int, onBoundary: Boolean): Gen[Seq[Ev]] = {
      val micros =
        if (onBoundary) Gen.const(0L)
        else Gen.frequency(1 -> Gen.const(0L), 1 -> Gen.const(hourMicros - 1),
          4 -> Gen.choose(0L, hourMicros - 1))
      val ev = for {
        u <- Gen.choose(1L, users.toLong)
        h <- Gen.choose(0L, 5L)
        m <- micros
        t <- Gen.oneOf("click", "view", "purchase", "signup", "error")
        v <- Gen.option(Gen.choose(-400, 4000).map(_ / 4.0))
        k <- Gen.option(Gen.choose(0L, 20L))
      } yield (u, h0.plusNanos((h * hourMicros + m) * 1000L), t, v, k)
      Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, ev)).map(_.zipWithIndex
        .map { case ((u, ts, t, v, k), i) => (i.toLong, u, t, v, k, ts) })
    }
    def sample(g: Gen[Seq[Ev]], seed: Long) =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val cases = Seq("empty" -> Seq.empty[Ev],
        "one user" -> sample(gen(1, onBoundary = false), 5200L),
        "hour boundaries" -> sample(gen(3, onBoundary = true), 5201L)) ++
      (1 to 6).map(i => s"generated $i" -> sample(gen(4, false), 5210L + i))
    val batches = 3
    val nonSketch = Seq("user_id", "window_start", "window_end",
      "total_events", "click_count", "view_count", "purchase_count",
      "signup_count", "error_count", "revenue_sum", "view_value_sum",
      "view_value_cnt", "primary_k_min").map(col) :+
      hll_sketch_estimate(col("k_sketch")).as("k_est")
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[Column]) =
      df.select(cols: _*).collect().toSet
    cases.foreach { case (name, evs) =>
      val df = evs.toDF("event_id", "user_id", "event_type", "value", "k",
        "ts_parsed")
      val keyed = WindowAgg.hourlyPartials(df,
        (col("event_id") % batches).as("__batch"))
      val perBatch = (0 until batches).map(b =>
        WindowAgg.hourlyPartials(df.filter(col("event_id") % batches === b))
          .withColumn("__batch", lit(b.toLong)))
      assert(rows(keyed, nonSketch :+ col("__batch")) ==
        perBatch.flatMap(rows(_, nonSketch :+ col("__batch"))).toSet, name)
      val fromKeyed = WindowAgg.finalizeHourly(
        WindowAgg.mergeHourlyPartials(keyed.drop("__batch")))
      val fromBatches = WindowAgg.finalizeHourly(
        WindowAgg.mergeHourlyPartials(perBatch.map(_.drop("__batch")): _*))
      val all = fromKeyed.columns.toSeq.map(col)
      assert(rows(fromKeyed, all) == rows(fromBatches, all), name)
      assert(fromKeyed.count() ==
        evs.map(e => (e._2, e._6.withMinute(0).withSecond(0).withNano(0)))
          .distinct.size, name)
    }
  }

  test("incremental flagship partials: merge of split halves equals the " +
      "single-pass partials exactly, and finalize matches hourlyFeatures " +
      "on every non-sketch column") {
    val halves = Seq(
      parsed.filter(pmod(col("event_id"), lit(2)) === 0),
      parsed.filter(pmod(col("event_id"), lit(2)) === 1))
    val merged = WindowAgg.mergeHourlyPartials(
      halves.map(h => WindowAgg.hourlyPartials(h)): _*)
    val single = WindowAgg.mergeHourlyPartials(
      WindowAgg.hourlyPartials(parsed))
    val nonSketch = Seq("user_id", "window_start", "window_end",
      "total_events", "click_count", "view_count", "purchase_count",
      "signup_count", "error_count", "revenue_sum", "view_value_cnt",
      "primary_k_min")
    // associativity on exactly-additive state (double sums compared via
    // finalize's rounding below; counts/mins exactly here)
    assert(merged.select(nonSketch.map(col): _*).collect().toSet ==
      single.select(nonSketch.map(col): _*).collect().toSet)

    // round 13: the ONE-SCAN keyed fold (extraKeys = the ingest half)
    // produces exactly the rows of the two filtered scans, so the merge
    // over it lands on the same merged state — the q_incremental_hourly
    // restructure's parity pin
    val keyed = WindowAgg.hourlyPartials(parsed,
      pmod(col("event_id"), lit(2)).as("__batch"))
    val mergedKeyed = WindowAgg.mergeHourlyPartials(keyed.drop("__batch"))
    assert(mergedKeyed.select(nonSketch.map(col): _*).collect().toSet ==
      merged.select(nonSketch.map(col): _*).collect().toSet)

    val fin = WindowAgg.finalizeHourly(merged)
    val ref = WindowAgg.hourlyFeatures(parsed)
    val keep = ref.columns.filterNot(_ == "unique_k")
    assert(fin.select(keep.map(col): _*).collect().toSet ==
      ref.select(keep.map(col): _*).collect().toSet)
    // the one sketched column stays within HLL tolerance of exact
    val chk = fin.join(ref.select(col("user_id"), col("window_start"),
        col("unique_k")), Seq("user_id", "window_start"))
      .select((abs(col("unique_k_approx") - col("unique_k"))
        .cast("double") <= greatest(lit(2.0), col("unique_k") * 0.15))
        .as("ok"))
    assert(chk.collect().forall(_.getBoolean(0)))
  }
}
