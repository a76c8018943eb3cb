package graft.perfbench

import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{FeatureStore, FeatureView}
import graft.ops.{Parse, WindowAgg}

/** Training-set generation: repeated point-in-time retrieval of two
  * feature views (hourly window features, 1-day TTL; daily profile,
  * 7-day TTL) for a fixed set of labelled probes. */
object OfflinePit {
  val HourlyFeatures = Seq("total_events", "click_count", "purchase_count",
    "total_revenue", "feature_timestamp")
  val ProfileFeatures = Seq("day_events", "day_value", "profile_ts")
  val Views = Seq(("hourly", HourlyFeatures, 1L), ("profile", ProfileFeatures, 7L))
  /** The hourly view's columns: key, tiebreak, features. The tiebreak must
    * differ from the timestamp column: `Materialize.latestPerKey` packs
    * both into one struct, where equal names are ambiguous. */
  val HourlyCols = Seq("user_id", "window_start") ++ HourlyFeatures

  /** The daily profile view of parsed events; a day's row is valid from
    * the end of that day. */
  def profileView(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("user_id"), col("event_date"))
      .agg(count(lit(1)).as("day_events"), sum(col("value")).as("day_value"))
      .select(col("user_id"), col("day_events"), col("day_value"),
        date_add(col("event_date"), 1).cast("timestamp_ntz").as("profile_ts"))

  /** `n` labelled probes of Zipf users, uniform in [from, from + span). */
  def probes(c: Ctx, n: Long, users: Long, fromSecs: Long, spanSecs: Long): DataFrame =
    c.spark.range(n).select(col("id").as("probe_id"),
      Gen.zipf(c.seed, 11, users).as("user_id"),
      Gen.ntz(lit(fromSecs) + floor(Gen.u(c.seed, 12) * spanSecs)).as("probe_ts"),
      (Gen.u(c.seed, 13) < 0.3).as("label"))

  /** A feature store holding both views. */
  def store(c: Ctx, hourly: DataFrame, profile: DataFrame): FeatureStore = {
    val fs = new FeatureStore(c.spark)
    fs.applyView(FeatureView("hourly", hourly, "user_id", "feature_timestamp",
      "window_start", HourlyFeatures, "INTERVAL 1 DAYS"))
    fs.applyView(FeatureView("profile", profile, "user_id", "profile_ts",
      "profile_ts", ProfileFeatures, "INTERVAL 7 DAYS"))
    fs
  }

  /** One training-set call, forced (every column computed). */
  def pit(c: Ctx, fs: FeatureStore, probes: DataFrame): Long =
    c.tracer.span("FeatureStore", "getHistoricalFeaturesMulti") {
      fs.getHistoricalFeaturesMulti(probes, Views.map(_._1), "probe_ts")
        .queryExecution.toRdd.count()
    }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val (nEvents, users, nProbes) =
      if (c.smoke) (20000L, 500L, 2000L) else (200000L, 10000L, 50000L)
    val days = 30
    val step = days * Gen.DaySecs.toDouble / nEvents
    var fs: FeatureStore = null
    var probeDf: DataFrame = null
    val cached = ArrayBuffer.empty[DataFrame]

    c.setup(if (c.smoke) 1 else 3) { _ =>
      cached.foreach(_.unpersist(true)); cached.clear()
      val parsed = Parse.parseEvents(
        Gen.events(spark, c.seed, 0, nEvents, users, step))
      val hourly = WindowAgg.hourlyFeatures(parsed)
        .select(HourlyCols.map(col): _*).cache()
      val profile = profileView(parsed).cache()
      probeDf = probes(c, nProbes, users, Gen.Epoch + Gen.DaySecs,
        (days - 1) * Gen.DaySecs).cache()
      cached ++= Seq(hourly, profile, probeDf)
      cached.foreach(_.count())
      fs = store(c, hourly, profile)
    }
    def call(): DataFrame =
      fs.getHistoricalFeaturesMulti(probeDf, Views.map(_._1), "probe_ts")
    // untimed warm-up: the first calls run 2x slower while the JIT
    // compiles the join's code paths; time only the flat part after it
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < c.seconds * 1e9)
      call().queryExecution.toRdd.count()
    c.phase("warmed up")

    val lat = ArrayBuffer.empty[Long]
    val minCalls = if (c.smoke) 1 else 4
    c.tracer.begin()
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < c.seconds * 1e9 || lat.size < minCalls) {
      val s = System.nanoTime()
      c.attempt("FeatureStore.getHistoricalFeaturesMulti")(pit(c, fs, probeDf))
        .foreach(_ => lat += System.nanoTime() - s)
    }
    c.tracer.finish()
    c.phase("measured")
    c.liveHeap("at the end of the timed phase")

    val a = Stats.sorted(lat)
    val label = c.opMetrics(a, nProbes * a.length / (a.sum / 1e9))
    c.name("pit_rows_per_s", c.e2e("work_per_s")._1, "1/s",
      s"$nProbes probes x 2 views per call, ${a.length} calls")
    c.name("pit_call_p50_ms", c.e2e("op_p50_ms")._1, "ms")
    c.name("pit_call_tail_ms", c.e2e("op_tail_ms")._1, "ms", label)
    historicalLayer(c)
    checkCalls(c, call().collect(), nProbes, cached(0), cached(1), lat.size)
  }

  def historicalLayer(c: Ctx): Unit =
    if (c.tracer.enabled)
      c.layer("FeatureStore.historical_s") = (Stats.median(
        Stats.sorted(c.tracer.nanos("FeatureStore", "getHistoricalFeaturesMulti"))) / 1e9, "s")

  /** Check one call's output; if wrong, all `calls` count as failed. */
  def checkCalls(c: Ctx, out: Array[Row], nProbes: Long, hourly: DataFrame,
                 profile: DataFrame, calls: Long): Unit = {
    val problems = check(c, out, nProbes, hourly, profile)
    if (problems.nonEmpty)
      c.wrong("FeatureStore.getHistoricalFeaturesMulti",
        problems.take(5).mkString("; "), calls)
  }

  /** One row per probe; every feature row inside TTL and not after the
    * probe; a seeded sample equal to a brute-force as-of join. */
  private def check(c: Ctx, out: Array[Row], nProbes: Long, hourly: DataFrame,
                    profile: DataFrame): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    if (out.length != nProbes) bad += s"${out.length} rows for $nProbes probes"
    val byId = out.map(r => r.getAs[Long]("probe_id") -> r).toMap
    if (byId.size != out.length) bad += s"${out.length - byId.size} duplicate probe rows"
    val tsCols = Views.map { case (v, fs, ttl) => (s"${v}__${fs.last}", ttl) }
    out.foreach { r =>
      val p = r.getAs[LocalDateTime]("probe_ts")
      tsCols.foreach { case (cn, ttl) =>
        val f = r.getAs[LocalDateTime](cn)
        if (f != null && (f.isAfter(p) || f.isBefore(p.minusDays(ttl))))
          bad += s"probe ${r.getAs[Long]("probe_id")}: $cn $f outside ($p - ${ttl}d, $p]"
      }
    }
    val rnd = new scala.util.Random(c.seed)
    val sample = Seq.fill(200)(rnd.nextLong(nProbes)).distinct.flatMap(byId.get)
    val sampleUsers = sample.map(_.getAs[Long]("user_id")).distinct
    Seq((hourly, Views(0)), (profile, Views(1))).foreach { case (df, (v, fs, ttl)) =>
      val hist = df.filter(col("user_id").isin(sampleUsers: _*)).collect()
        .groupBy(_.getAs[Long]("user_id"))
      sample.foreach { r =>
        val p = r.getAs[LocalDateTime]("probe_ts")
        val best = hist.getOrElse(r.getAs[Long]("user_id"), Array.empty[Row])
          .filter { h =>
            val t = h.getAs[LocalDateTime](fs.last)
            !t.isAfter(p) && !t.isBefore(p.minusDays(ttl))
          }.sortBy(_.getAs[LocalDateTime](fs.last)).lastOption
        fs.foreach { f =>
          val want = best.map(_.getAs[Any](f)).orNull
          val got = r.getAs[Any](s"${v}__$f")
          if (want != got)
            bad += s"probe ${r.getAs[Long]("probe_id")} ${v}__$f: got $got, want $want"
        }
      }
    }
    bad.toSeq
  }
}
