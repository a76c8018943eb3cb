package graft

import graft.ops.Retrieval
import org.apache.spark.sql.functions._

/** Property: the as-of join equals a brute-force per-probe scan of the
  * feature history, for randomized feature/probe sets with ~5 % NULL keys
  * and times — the crown-jewel operator proven against an executable
  * spec, not examples. (Seeded java.util.Random generation: deterministic
  * across runs.)
  */
class AsOfPropertySpec extends SparkSpec {
  import spark.implicits._

  private val ttlMicros = 1000L
  private val ttl = "INTERVAL '0.001' SECOND"

  /** Features are (key, ts, value), probes (id, key, ts); a NULL key or
    * time equals nothing (SQL three-valued logic), so such a probe gets
    * NULL and such a feature row is never picked.
    */
  private def bruteForce(feats: Seq[(Option[Long], Option[Long], Double)],
                         probes: Seq[(Long, Option[Long], Option[Long])]): Map[Long, Option[Double]] =
    probes.map { case (pid, k, ts) =>
      val eligible = feats.collect {
        case (Some(fk), Some(ft), v) if k.contains(fk) &&
            ts.exists(t => ft <= t && ft >= t - ttlMicros) => (ft, v)
      }
      pid -> (if (eligible.isEmpty) None else Some(eligible.max._2))
    }.toMap

  /** ~5 % NULLs. */
  private def orNull[A](r: java.util.Random)(a: => A): Option[A] =
    if (r.nextInt(20) == 0) None else Some(a)

  /** Operator precondition: unique (key, ts) on the feature side — dedup
    * keeping the max value (the documented pre-aggregation).
    */
  private def uniqueFeats(raw: Seq[(Option[Long], Option[Long], Double)]) =
    raw.groupBy(f => (f._1, f._2))
      .map { case ((k, t), fs) => (k, t, fs.map(_._3).max) }.toSeq

  private def featDf(feats: Seq[(Option[Long], Option[Long], Double)]) =
    feats.toDF("user_id", "l", "fval")
      .selectExpr("user_id", "timestamp_micros(l) AS fts", "fval")

  private def probeDf(probes: Seq[(Long, Option[Long], Option[Long])]) =
    probes.toDF("probe_id", "user_id", "l")
      .selectExpr("probe_id", "user_id", "timestamp_micros(l) AS ts")

  private def asOf(p: org.apache.spark.sql.DataFrame,
                   f: org.apache.spark.sql.DataFrame) =
    Retrieval.asOfJoin(p, f, "user_id", "ts", "fts", ttl, Seq("fval"))
      .select("probe_id", "fval")
      .as[(Long, Option[Double])].collect().toMap

  test("intervalJoin equals brute-force containment for random intervals, " +
      "points, and bin widths (30 random datasets)") {
    val r = new java.util.Random(777)
    (1 to 30).foreach { round =>
      val np = 1 + r.nextInt(40)
      val ni = r.nextInt(15)
      val base = 1700000000000000L // µs epoch anchor
      val pts = Seq.fill(np)(
        (r.nextInt(100000).toLong, 1L + r.nextInt(3),
          base + r.nextInt(10000000).toLong))
      val ivs = Seq.fill(ni) {
        val s = base + r.nextInt(10000000).toLong
        (1L + r.nextInt(3), "iv" + r.nextInt(1000000),
          s, s + 1 + r.nextInt(5000000).toLong)
      }
      val expected = (for {
        (pid, pk, pt) <- pts; (ik, iv, s, e) <- ivs
        if ik == pk && pt >= s && pt < e
      } yield (pid, iv)).toSet
      val ptsDf = pts.toDF("id", "k", "ptu")
        .withColumn("pt", timestamp_micros($"ptu")).drop("ptu")
      val ivsDf = ivs.toDF("k", "iv", "su", "eu")
        .withColumn("start", timestamp_micros($"su"))
        .withColumn("end", timestamp_micros($"eu")).drop("su", "eu")
      // random bin width from sub-interval to super-interval scale
      val binMicros = math.pow(10, 3 + r.nextInt(5)).toLong
      val got = Retrieval.intervalJoin(ptsDf, ivsDf, Seq("k"), "pt",
          "start", "end", binMicros = binMicros,
          maxBinsPerInterval = Int.MaxValue)
        .select("id", "iv").as[(Long, String)].collect().toSet
      assert(got == expected,
        s"round $round binMicros=$binMicros np=$np ni=$ni")
    }
  }

  test("as-of join equals brute-force per-probe scan (40 random datasets)") {
    val r = new java.util.Random(4242)
    (1 to 40).foreach { round =>
      val nf = r.nextInt(25)
      val np = 1 + r.nextInt(25)
      val feats = uniqueFeats(Seq.fill(nf)(
        (orNull(r)(1L + r.nextInt(4)), orNull(r)(r.nextInt(3000).toLong),
          math.rint((1 + 8 * r.nextDouble()) * 100) / 100)))
      val probes = Seq.tabulate(np)(i =>
        (i.toLong, orNull(r)(1L + r.nextInt(4)),
          orNull(r)(r.nextInt(3000).toLong)))
      assert(asOf(probeDf(probes), featDf(feats)) == bruteForce(feats, probes),
        s"round $round: $feats $probes")
    }
  }

  /** Boundary-chaos agreement: timestamps are drawn ON and ±1–2 µs
    * AROUND the hazardous instants — the 1970 epoch itself, the epoch±TTL
    * window edges, a pre-epoch (negative-micros) instant, and a real DST
    * transition (2021-03-14 07:00 UTC, US spring-forward) — so microsecond
    * ties (probe==feature ts, probe==probe, window-edge exact hits) occur
    * constantly rather than by luck. The as-of join, planned with
    * exchanges and over bucketed-sorted tables, must agree with the
    * brute-force executable spec on every probe. TTL boundary is inclusive
    * (fts >= ts - ttl), the fts == ts tie includes the feature (Feast
    * semantics) — exactly what an off-by-one would break at these
    * instants. A NULL time read as its raw 0 would sit on the epoch.
    */
  test("epoch/DST boundary chaos: plain ≡ bucketed ≡ brute force " +
       "(≥1000 probes)") {
    val r = new java.util.Random(20260813)
    val dstEdge = 1615705200000000L // 2021-03-14T07:00:00Z in micros
    val bases = Seq(0L, ttlMicros, -ttlMicros, -86400000000L, // 1969-12-31
      dstEdge, dstEdge - ttlMicros)
    def chaosTs(): Long = {
      val base = bases(r.nextInt(bases.length))
      // ±2 µs jitter, occasionally shifted by a whole TTL so probes straddle
      // the lookback window of features sitting on a neighboring base
      val jitter = r.nextInt(5) - 2
      val shift = if (r.nextInt(4) == 0) (r.nextInt(3) - 1) * ttlMicros else 0L
      base + jitter + shift
    }
    var totalProbes = 0
    try {
      (1 to 10).foreach { round =>
        val nf = 20 + r.nextInt(20)
        val np = 110
        val feats = uniqueFeats(Seq.fill(nf)(
          (orNull(r)(1L + r.nextInt(3)), orNull(r)(chaosTs()),
            (r.nextInt(900) + 100).toDouble)))
        val probes = Seq.tabulate(np)(i =>
          (i.toLong, orNull(r)(1L + r.nextInt(3)), orNull(r)(chaosTs())))
        val want = bruteForce(feats, probes)

        assert(asOf(probeDf(probes), featDf(feats)) == want,
          s"round $round plain: $feats $probes")

        probeDf(probes).repartition(4, col("user_id")).write.mode("overwrite")
          .bucketBy(4, "user_id").sortBy("user_id", "ts")
          .saveAsTable("asof_chaos_p")
        featDf(feats).repartition(4, col("user_id")).write.mode("overwrite")
          .bucketBy(4, "user_id").sortBy("user_id", "fts")
          .saveAsTable("asof_chaos_f")
        assert(asOf(spark.table("asof_chaos_p"), spark.table("asof_chaos_f"))
          == want, s"round $round bucketed: $feats $probes")

        totalProbes += np
      }
      assert(totalProbes >= 1000, s"only $totalProbes probes exercised")
    } finally {
      spark.sql("DROP TABLE IF EXISTS asof_chaos_p")
      spark.sql("DROP TABLE IF EXISTS asof_chaos_f")
    }
  }
}
