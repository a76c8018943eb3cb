package graft.perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.FeatureStore
import graft.ops.{Materialize, Parse, WindowAgg}
import graft.sources.KvStore
import graft.streaming.Pipeline

/** The write path: micro-batches of raw events with late arrivals, each
  * run through the `foreachBatch` bodies directly (flagship partials, the
  * streaming features upserted into the KV store, and the parquet
  * snapshot), while one open-loop reader serves `KvStore.getBatch`; then
  * the flagship is finalized and serves a training set and online reads. */
object Ingest {
  val KvFeatures = Seq("total_events", "click_count", "unique_k_approx",
    "total_revenue")
  val ReadRate = 2000.0
  val PitCalls = 3
  val OnlineReads = 5
  /** Timed batches per second of `--seconds`: a batch takes 1.2-1.8 s at
    * 4 cores. The count is fixed by `--seconds`, not by the clock, so each
    * run does the same work; a clock-bound count spread the fixed cost of
    * the after-batch steps over 5 or 6 batches, and `work_per_s` jumped
    * with it. */
  val BatchesPerSecond = 0.8

  /** What the steps after the batches leave: the cached frames, the feature
    * store over them, and each online read's keys and answer. */
  final case class After(flagship: DataFrame, hourly: DataFrame,
                         profile: DataFrame, probes: DataFrame, fs: FeatureStore,
                         pits: Int, snapshot: Option[DataFrame],
                         reads: Seq[(Seq[Long], Array[Row])]) {
    def release(): Unit =
      (Seq(flagship, profile, probes) ++ snapshot).foreach(_.unpersist())
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val (perBatch, users, nProbes) =
      if (c.smoke) (2000L, 200L, 1000L) else (5000L, 5000L, 20000L)
    val step = 2.0 // event-time seconds per event
    def raw(seed: Long, i: Long): DataFrame =
      Gen.events(spark, seed, i * perBatch, (i + 1) * perBatch, users, step)
    /** Every raw event of the run's first `batches` batches. */
    def rawBefore(batches: Long): DataFrame =
      Gen.events(spark, c.seed, 0, batches * perBatch, users, step)
    def features(seed: Long, i: Long): DataFrame =
      Pipeline.streamingFeatures(raw(seed, i)).withColumn("tb", lit(i))

    val partials = c.work.resolve("ingest/partials")
    val snap = c.work.resolve("ingest/snapshot")
    val kv = c.work.resolve("ingest/kv")
    def reset(): Unit = {
      if (java.nio.file.Files.exists(kv)) KvStore.destroy(kv.toString)
      Seq(partials, snap, kv).foreach(p => c.workDir(c.work.relativize(p).toString))
      c.deleteTree(c.work.resolve("ingest/snapshot.old"))
    }
    /** One micro-batch through every foreachBatch body. */
    def batch(seed: Long, i: Long): Unit = {
      c.tracer.span("streaming.Pipeline", "ingestFlagshipBatch") {
        Pipeline.ingestFlagshipBatch(Parse.parseEvents(raw(seed, i)), i,
          partials.toString)
      }
      val feats = features(seed, i)
      c.tracer.span("sources.KvStore", "upsertLatest") {
        KvStore.upsertLatest(feats, kv.toString, "user_id", "window_end", "tb",
          KvFeatures)
      }
      c.tracer.span("streaming.Pipeline", "upsertSnapshot") {
        Pipeline.upsertSnapshot(feats, snap.toString, "user_id", "window_end", "tb")
      }
    }

    // set-up: fresh stores, warmed by one batch of other-seed events
    c.setup(if (c.smoke) 1 else 3) { _ =>
      reset()
      batch(c.seed + 1, 0)
      reset()
    }

    /** Run `op`; on success add its time to `times`. */
    def timed[T](op: String, times: ArrayBuffer[Long])(body: => T): Option[T] = {
      val s = System.nanoTime()
      val r = c.attempt(op)(body)
      r.foreach(_ => times += System.nanoTime() - s)
      r
    }
    /** After `batches` batches: finalize the flagship, then a training set
      * over it (the finalized flagship as the hourly view, plus the daily
      * profile view) and online reads of the hourly view. */
    def afterBatches(batches: Long, times: ArrayBuffer[Long]): After = {
      val flagship = Pipeline.flagshipFromStore(spark, partials.toString).cache()
      timed("Pipeline.flagshipFromStore", times) {
        c.tracer.span("ops", "WindowAgg.finalize")(flagship.count())
      }
      val hourly = flagship.select(OfflinePit.HourlyCols.map(col): _*)
      val profile = OfflinePit.profileView(Parse.parseEvents(rawBefore(batches))).cache()
      val probes = OfflinePit.probes(c, nProbes, users, Gen.Epoch,
        (batches * perBatch * step).toLong).cache()
      Seq(profile, probes).foreach(_.count())
      val fs = OfflinePit.store(c, hourly, profile)
      val pits = (0 until PitCalls).flatMap(_ => timed(
        "FeatureStore.getHistoricalFeaturesMulti", times)(OfflinePit.pit(c, fs, probes)))
      val snapshot = timed("FeatureStore.materialize", times) {
        c.tracer.span("FeatureStore", "materialize") {
          val m = fs.materialize("hourly"); m.count(); m
        }
      }
      val rnd = new java.util.SplittableRandom(c.seed + batches)
      val reads = (0 until OnlineReads).flatMap { _ =>
        val ks = Seq.fill(3)(
          (math.floor(math.pow(users.toDouble, rnd.nextDouble())) - 1).toLong)
        timed("FeatureStore.getOnlineFeatures", times)(
          Serve.onlineRead(c, fs, "hourly", "user_id", ks)).map(ks -> _)
      }
      After(flagship, hourly, profile, probes, fs, pits.size, snapshot, reads)
    }

    /** One open-loop `KvStore.getBatch` reader (3 Zipf keys a request) on
      * its own thread, until `stop`. */
    def reader(loop: OpenLoop, stop: AtomicBoolean, seed: Long): Thread = {
      val t = new Thread(() => {
        val rnd = new java.util.SplittableRandom(seed)
        loop.run(1e9, stop.get) { _ =>
          val keys = Seq.fill(3)(
            (math.floor(math.pow(users.toDouble, rnd.nextDouble())) - 1).toLong.toString)
          c.attempt("KvStore.getBatch") {
            val r = c.tracer.span("sources.KvStore", "getBatch", sparkWork = false) {
              KvStore.getBatch(kv.toString, keys)
            }
            if (r.size != 3 || r.exists(_.size != KvFeatures.size))
              c.wrong("KvStore.getBatch", s"shape ${r.map(_.size)} for $keys")
          }
        }
      }, "perfbench-reader")
      t.setDaemon(true)
      t.start()
      t
    }

    // untimed warm-up on the fresh stores: two batches (part of the checked
    // stream; the first creates the stores, the second is the first to
    // merge into them), then one pass of the steps after the batches with a
    // reader running, so that nothing timed runs cold
    val warm = 2L
    (0L until warm).foreach(i => batch(c.seed, i))
    val warmStop = new AtomicBoolean(false)
    val warmReader = reader(new OpenLoop(ReadRate), warmStop, c.seed + 1)
    afterBatches(warm, ArrayBuffer.empty).release()
    warmStop.set(true)
    warmReader.join()
    c.phase("warmed up")
    val lat = ArrayBuffer.empty[Long]
    val after = ArrayBuffer.empty[Long]
    val written = ArrayBuffer.empty[Long]
    val timedBatches =
      if (c.smoke) 1 else math.max(4L, math.round(c.seconds * BatchesPerSecond))
    val stop = new AtomicBoolean(false)
    val reads = new OpenLoop(ReadRate)
    c.tracer.begin()
    val readerThread = reader(reads, stop, c.seed)
    val n = warm + timedBatches
    (warm until n).foreach { i =>
      val before = if (c.tracer.enabled) c.dirBytes(partials) + c.dirBytes(kv) else 0L
      timed("ingest.batch", lat)(batch(c.seed, i))
      if (c.tracer.enabled)
        written += c.dirBytes(partials) + c.dirBytes(kv) - before + c.dirBytes(snap)
    }
    stop.set(true)
    readerThread.join()
    val out = afterBatches(n, after)
    c.tracer.finish()
    c.phase("measured")
    c.liveHeap("at the end of the timed phase")

    val a = Stats.sorted(lat)
    val label = c.opMetrics(a, perBatch * a.length / ((a.sum + after.sum) / 1e9))
    c.name("ingest_events_per_s", perBatch * a.length / (a.sum / 1e9), "1/s",
      s"$perBatch events per batch, ${a.length} timed batches after $warm untimed")
    c.name("batch_p50_ms", c.e2e("op_p50_ms")._1, "ms")
    c.name("batch_tail_ms", c.e2e("op_tail_ms")._1, "ms", label)
    c.name("after_batches_s", after.sum / 1e9, "s", s"finalize, $PitCalls " +
      s"training-set calls, materialize, $OnlineReads online reads")
    c.name("events_per_s_to_training_set", c.e2e("work_per_s")._1, "1/s",
      "timed batch events over the batches' and the after-batch steps' time")
    val readNs = Stats.sorted(reads.latency)
    c.name("serve_p50_us", Stats.median(readNs) / 1e3, "us",
      s"getBatch under ingest at ${ReadRate.toInt}/s, ${readNs.length} reads")
    c.name("serve_p99_us", Stats.pct(readNs, 99) / 1e3, "us")

    val all = (0L until n).map(i => features(c.seed, i)).reduce(_ unionByName _)
    if (c.tracer.enabled) {
      KvSpans.record(c, Stats.sorted(reads.late))
      c.layer("streaming.Pipeline.flagship_batch_ms") = (Stats.median(Stats.sorted(
        c.tracer.nanos("streaming.Pipeline", "ingestFlagshipBatch"))) / 1e6, "ms")
      c.layer("streaming.Pipeline.upsert_snapshot_ms") = (Stats.median(Stats.sorted(
        c.tracer.nanos("streaming.Pipeline", "upsertSnapshot"))) / 1e6, "ms")
      c.layer("sources.KvStore.upsert_ms") = (Stats.median(Stats.sorted(
        c.tracer.nanos("sources.KvStore", "upsertLatest"))) / 1e6, "ms")
      c.layer("ops.WindowAgg.finalize_s") = (Stats.median(Stats.sorted(
        c.tracer.nanos("ops", "WindowAgg.finalize"))) / 1e9, "s")
      val inBytes = rawBefore(n)
        .agg(sum(length(col("props")) + length(col("event_type")) + 32)).head().getLong(0)
      c.layer("streaming.Pipeline.bytes_written_per_input_byte") =
        (written.sum.toDouble / inBytes, "ratio")
      KvSpans.space(c, kv, KvStore.snapshot(spark, kv.toString).count(), all.count())
      Serve.onlineLayer(c)
    }

    // correctness: the store images, the finalized flagship, the training
    // set and the online reads
    val bad = ArrayBuffer.empty[String]
    def image(df: DataFrame, k: String, ts: String, tb: String): Set[Row] =
      df.select(Seq(col(k).cast("string").as("k"),
        unix_micros(col(ts).cast("timestamp")).as("ts"), col(tb).as("tb")) ++
        KvFeatures.map(col): _*).collect().toSet
    val expected = image(Materialize.latestPerKey(all, "user_id", "window_end", "tb"),
      "user_id", "window_end", "tb")
    Seq("KvStore.upsertLatest" -> image(KvStore.snapshot(spark, kv.toString),
        "entity_id", "feature_ts", "tiebreak"),
      "Pipeline.upsertSnapshot" -> image(spark.read.parquet(snap.toString),
        "user_id", "window_end", "tb"))
      .foreach { case (op, img) =>
        val (extra, missing) = ((img -- expected).size, (expected -- img).size)
        if (extra + missing > 0)
          bad += s"$op image: $extra rows not in latestPerKey, $missing missing"
      }
    val flagshipRows = out.flagship.collect()
    bad ++= checkFlagship(flagshipRows, Parse.parseEvents(rawBefore(n)))
    if (bad.nonEmpty) c.wrong("ingest.batch", bad.take(5).mkString("; "), lat.size)
    OfflinePit.historicalLayer(c)
    OfflinePit.checkCalls(c, out.fs.getHistoricalFeaturesMulti(out.probes,
      OfflinePit.Views.map(_._1), "probe_ts").collect(), nProbes, out.hourly,
      out.profile, out.pits)
    checkOnline(c, flagshipRows, out.reads)
    out.release()
    KvStore.destroy(kv.toString)
  }

  /** Each online read returns, in request order, the newest finalized
    * hourly row of its user (all-null for a user with none). */
  private def checkOnline(c: Ctx, flagship: Array[Row],
                          reads: Seq[(Seq[Long], Array[Row])]): Unit = {
    val latest = flagship.groupBy(_.getAs[Long]("user_id")).map { case (u, rs) =>
      u -> rs.maxBy(_.getAs[java.time.LocalDateTime]("feature_timestamp"))
    }
    val fs = OfflinePit.HourlyFeatures
    reads.foreach { case (ks, rows) =>
      val got = rows.toSeq.map(r => fs.map(f => r.getAs[Any](s"hourly__$f")))
      val want = ks.map(k => latest.get(k).map(r => fs.map(r.getAs[Any](_)))
        .getOrElse(fs.map(_ => null)))
      if (rows.map(_.getAs[Long]("user_id")).toSeq != ks || got != want)
        c.wrong("FeatureStore.getOnlineFeatures", s"keys $ks: got $got, want $want")
    }
  }

  /** The finalized flagship equals `WindowAgg.hourlyFeatures` over all the
    * events at once; the sketch-based distinct count is checked against
    * the exact one within 2 % (HLL, lgK = 12). */
  private def checkFlagship(got: Array[Row], parsedAll: DataFrame): Seq[String] = {
    val exact = WindowAgg.hourlyFeatures(parsedAll).collect()
    val cols = Seq("total_events", "click_count", "view_count", "purchase_count",
      "signup_count", "error_count", "total_revenue", "avg_view_value",
      "primary_k", "click_through_rate", "conversion_rate", "event_date",
      "feature_timestamp")
    def key(r: Row) =
      (r.getAs[Any]("user_id"), r.getAs[Any]("window_start"))
    val want = exact.map(r => key(r) -> r).toMap
    val bad = ArrayBuffer.empty[String]
    if (got.length != exact.length) bad += s"flagship ${got.length} rows, want ${exact.length}"
    got.foreach { r =>
      want.get(key(r)) match {
        case None => bad += s"flagship row ${key(r)} not in hourlyFeatures"
        case Some(w) =>
          cols.foreach { cn =>
            if (r.getAs[Any](cn) != w.getAs[Any](cn))
              bad += s"flagship ${key(r)} $cn: got ${r.getAs[Any](cn)}, want ${w.getAs[Any](cn)}"
          }
          val (ak, ek) = (r.getAs[Long]("unique_k_approx"), w.getAs[Long]("unique_k"))
          if (math.abs(ak - ek) > math.max(1.0, 0.02 * ek))
            bad += s"flagship ${key(r)} unique_k_approx $ak vs exact $ek"
      }
    }
    bad.toSeq
  }
}

/** KV-store per-layer metrics shared by `ingest` and `serve`. */
object KvSpans {
  def record(c: Ctx, lateNs: Array[Long]): Unit = {
    val gets = Stats.sorted(c.tracer.nanos("sources.KvStore", "getBatch"))
    c.layer("sources.KvStore.get_us") = (Stats.median(gets) / 1e3, "us")
    c.layer("sources.KvStore.get_p99_us") = (Stats.pct(gets, 99) / 1e3, "us")
    c.layer("loadgen.late_p99_us") = (Stats.pct(lateNs, 99) / 1e3, "us")
  }
  def space(c: Ctx, dir: java.nio.file.Path, liveKeys: Long, offered: Long): Unit = {
    c.layer("sources.KvStore.disk_bytes_per_key") =
      (c.dirBytes(dir).toDouble / math.max(1L, liveKeys), "bytes")
    c.layer("sources.KvStore.live_keys_per_row_offered") =
      (liveKeys.toDouble / math.max(1L, offered), "ratio")
  }
}
