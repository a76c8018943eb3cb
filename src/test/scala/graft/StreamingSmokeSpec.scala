package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.streaming.Pipeline

/** Batch ≡ stream for closed windows (SURVEY.md §7.3#4): push the sf0.001
  * events through MemoryStream + watermark + append mode and compare closed
  * windows against the same transform run in batch.
  */
class StreamingSmokeSpec extends SparkSpec {
  import spark.implicits._

  test("MemoryStream produces the same closed windows as batch") {
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sfDir)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    // MemoryStream[Row] via typed tuple encoding
    val rows = raw.as[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .collect().toSeq
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val agg = Pipeline.streamingFeatures(sdf)
    val q = agg.writeStream.format("memory").queryName("smoke")
      .outputMode("append").start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
      // advance watermark far past the data, closing all windows
      val last = rows.map(_._2.getTime).max
      stream.addData(Seq((-1L,
        new java.sql.Timestamp(last + 24L * 3600 * 1000), -1L, "view", 0.0,
        "{}")))
      q.processAllAvailable()

      val streamed = spark.table("smoke")
        .filter($"user_id" >= 0)
        .select($"user_id", $"window_start", $"total_events", $"click_count")
      val batch = Pipeline.streamingFeatures(raw.unionByName(
          Seq((-1L, new java.sql.Timestamp(last + 24L * 3600 * 1000), -1L,
            "view", 0.0, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
      // batch mode ignores watermark: compare only windows the stream closed
      val batchClosed = batch
        .filter($"user_id" >= 0)
        .select($"user_id", $"window_start", $"total_events", $"click_count")
      assert(streamed.count() > 0)
      assert(batchClosed.exceptAll(streamed).count() == 0 ||
        streamed.exceptAll(batchClosed).count() == 0)
    } finally q.stop()
  }

  test("streaming exact dedup drops cross-batch duplicates within watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val deduped = stream.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      stream.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0))
      q.processAllAvailable()
      // duplicate of event 1 arrives in a LATER micro-batch, within the
      // watermark horizon — state must absorb it
      stream.addData((1L, ts(2), 99.0), (3L, ts(3), 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .as[Long].collect().sorted.toList
      assert(ids == List(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("stream-stream interval join pairs keys within lookback, expires outside") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val probes = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val feats = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = Pipeline.streamStreamJoin(
      probes.toDF().toDF("event_id", "user_id", "ts"), "ts", "user_id",
      feats.toDF().toDF("f_user", "fts", "fval"), "fts", "f_user",
      lookback = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      feats.addData((1L, ts(0), 10.0), (1L, ts(30), 20.0), (2L, ts(0), 5.0))
      probes.addData((100L, 1L, ts(40)), // both feature rows in lookback
        (101L, 2L, ts(90)),              // feature 90 min old — outside
        (102L, 3L, ts(40)))              // no features for key
      q.processAllAvailable()
      val got = spark.table("ssj").select("event_id", "fval")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((100L, 10.0), (100L, 20.0)), s"got $got")
    } finally q.stop()
  }

  test("streaming quality monitor counts violations per closed window") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val monitored = Pipeline.streamingQualityMonitor(
      stream.toDF().toDF("event_id", "ts", "value"), "ts",
      Seq(graft.ops.Quality.Between("value", 0.0, 100.0)))
    val q = monitored.writeStream.format("memory").queryName("qmon")
      .outputMode("append").start()
    try {
      stream.addData((1L, ts(0), 50.0), (2L, ts(1), -5.0), (3L, ts(2), 500.0))
      q.processAllAvailable()
      stream.addData((4L, ts(24 * 60), 1.0)) // advance watermark, close window
      q.processAllAvailable()
      val row = spark.table("qmon")
        .select("total", "unexpected_between_value").head()
      assert(row.getLong(0) == 3 && row.getLong(1) == 2)
    } finally q.stop()
  }

  test("foreachBatch online-store upsert folds to latest-per-key, idempotently") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val store = tempDir("graft_store_") + "/snap"
    val ckpt = tempDir("graft_ckpt2_")
    val q = Pipeline.onlineStoreSink(
        stream.toDF().toDF("user_id", "ts", "value"),
        store, ckpt, "user_id", "ts", "value")
      .start()
    try {
      stream.addData((1L, ts(0), 10.0), (2L, ts(0), 20.0))
      q.processAllAvailable()
      stream.addData((1L, ts(5), 11.0), (3L, ts(5), 30.0)) // newer row for 1
      q.processAllAvailable()
      val snap = spark.read.parquet(store)
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      assert(snap == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
      // idempotency: re-applying the last batch changes nothing
      Pipeline.upsertSnapshot(
        Seq((1L, ts(5), 11.0), (3L, ts(5), 30.0)).toDF("user_id", "ts", "value"),
        store, "user_id", "ts", "value")
      val again = spark.read.parquet(store)
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      assert(again == snap)
    } finally q.stop()
  }

  test("online-store sink killed mid-stream resumes from its checkpoint; " +
      "snapshot equals the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val store = tempDir("graft_resume_") + "/snap"
    val ckpt = tempDir("graft_rckpt_")
    def startSink() = Pipeline.onlineStoreSink(
        stream.toDF().toDF("user_id", "ts", "value"),
        store, ckpt, "user_id", "ts", "value")
      .start()
    val q1 = startSink()
    stream.addData((1L, ts(0), 10.0), (2L, ts(0), 20.0))
    q1.processAllAvailable()
    q1.stop() // kill the sink mid-stream
    // data keeps arriving while the sink is down
    stream.addData((1L, ts(5), 11.0), (3L, ts(5), 30.0))
    stream.addData((2L, ts(9), 21.0))
    val q2 = startSink() // resume over the SAME checkpoint
    try {
      q2.processAllAvailable()
      val snap = spark.read.parquet(store)
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      // the recovered stream converges to the same state a single batch
      // latest-per-key fold over all data produces
      val all = Seq((1L, ts(0), 10.0), (2L, ts(0), 20.0), (1L, ts(5), 11.0),
        (3L, ts(5), 30.0), (2L, ts(9), 21.0)).toDF("user_id", "ts", "value")
      val batchFold = graft.ops.Materialize
        .latestPerKey(all, "user_id", "ts", "value")
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      assert(snap == batchFold)
      assert(snap == Map(1L -> 11.0, 2L -> 21.0, 3L -> 30.0))
    } finally q2.stop()
  }

  test("streaming histogram-store sink: kill/resume; epoch overwrite keeps " +
      "counts exact and quantile readouts equal the batch store") {
    implicit val sqlCtx = spark.sqlContext
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$day%d 10:00:00")
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val store = tempDir("graft_hist_") + "/store"
    val ckpt = tempDir("graft_hckpt_")
    def start() = Pipeline.histogramStoreSink(
        stream.toDF().toDF("ts", "value"),
        "ts", "value", 0.0, 100.0, 100, store, ckpt)
      .start()
    val batch1 = Seq((ts(1), 5.0), (ts(1), 15.0), (ts(2), 25.0))
    val batch2 = Seq((ts(2), 25.0), (ts(3), 75.0), (ts(3), 95.0))
    val q1 = start()
    stream.addData(batch1: _*)
    q1.processAllAvailable()
    q1.stop() // kill mid-stream; more data arrives while down
    stream.addData(batch2: _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val folded = Pipeline.histogramStore(spark, store)
      // equals the BATCH store over everything that flowed
      val all = (batch1 ++ batch2).toDF("ts", "value")
      val batchStore = graft.ops.Sketches
        .dailyHistogramStore(all, "ts", "value", 0.0, 100.0, 100)
      assert(folded.select("day", "bin", "cnt").collect().toSet ==
        batchStore.collect().toSet)
      // duplicate values on day 2 counted exactly (2 in bin 25)
      assert(folded.filter(col("bin") === 25).select("cnt")
        .head().getLong(0) == 2L)
      // and the quantile readout over the streamed store works end-to-end
      val q = graft.ops.Sketches.rollupQuantiles(folded,
        d => lit("1970-01-01").cast("date"), 0.0, 100.0, 100, Seq(0.5))
        .head().getAs[Double]("p50")
      assert(q >= 15.0 && q <= 26.0, s"p50=$q")
    } finally q2.stop()
  }

  test("streaming flagship-partials sink: kill/resume; merged epochs " +
      "finalize to the same table as a batch fold over everything") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double, Long)]
    val store = tempDir("graft_fpart_") + "/partials"
    val ckpt = tempDir("graft_fckpt_")
    val cols = Seq("user_id", "ts_parsed", "event_type", "value", "k")
    def start() = Pipeline.flagshipPartialsSink(
      stream.toDF().toDF(cols: _*), store, ckpt).start()
    val b1 = Seq((1L, ts(0), "view", 10.0, 7L), (1L, ts(5), "click", 0.0, 7L),
      (2L, ts(10), "view", 30.0, 9L))
    val b2 = Seq((1L, ts(20), "purchase", 99.0, 7L),
      (2L, ts(90), "view", 40.0, 8L))   // second hour for u2
    val q1 = start()
    stream.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop() // kill; data keeps arriving
    stream.addData(b2: _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val live = Pipeline.flagshipFromStore(spark, store)
      val batch = graft.ops.WindowAgg.finalizeHourly(
        graft.ops.WindowAgg.mergeHourlyPartials(
          graft.ops.WindowAgg.hourlyPartials((b1 ++ b2).toDF(cols: _*))))
      assert(live.collect().toSet == batch.collect().toSet)
      // spot-check: u1's first-hour window saw view+click+purchase
      val u1 = live.filter(col("user_id") === 1L).collect()
      assert(u1.length == 1)
      assert(u1.head.getAs[Long]("total_events") == 3L)
      assert(u1.head.getAs[Double]("total_revenue") == 99.0)
    } finally q2.stop()
  }

  test("streaming near-dup ingest gate: kill/resume; admitted corpus " +
      "equals the full-corpus batch survivors") {
    implicit val sqlCtx = spark.sqlContext
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val rows = d.as[(Long, String)].collect().sortBy(_._1).toSeq
    // ground truth: keep-lowest-id survivors of the one-shot batch run
    val dropped = graft.ops.Dedup.minHashNearDups(d, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .select($"id_b").as[Long].collect().toSet
    val survivors = rows.map(_._1).toSet -- dropped

    // ingest in id order (the monotonic-arrival contract of the
    // keep-lowest-id rule), split across three micro-batches
    val (p1, rest) = rows.splitAt(rows.length / 3)
    val (p2, p3) = rest.splitAt(rest.length / 2)
    val stream = MemoryStream[(Long, String)]
    val root = tempDir("graft_ndi_")
    def startSink() = Pipeline.nearDupIngestSink(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
        root + "/sigs", root + "/corpus", root + "/ckpt").start()
    val q1 = startSink()
    stream.addData(p1)
    q1.processAllAvailable()
    q1.stop() // the gate goes down; documents keep arriving
    stream.addData(p2)
    val q2 = startSink() // resume over the SAME checkpoint
    try {
      q2.processAllAvailable()
      stream.addData(p3)
      q2.processAllAvailable()
      val admitted = spark.read.parquet(root + "/corpus")
        .select($"doc_id").as[Long].collect().toSeq
      // exactly the batch run's surviving set — nothing double-admitted
      assert(admitted.sorted == survivors.toSeq.sorted)
      // the signature store accumulated EVERY doc exactly once (dups
      // included — the append-only signature-table contract), spread
      // over one partition per micro-batch
      val sigs = spark.read.parquet(root + "/sigs")
      assert(sigs.select($"id").as[Long].collect().sorted.toSeq
        == rows.map(_._1).toSeq)
      assert(sigs.select($"ingest_batch").distinct().count() == 3)
    } finally q2.stop()
  }

  test("streaming semantic ingest gate: kill/resume; admitted set equals " +
      "batch semDedup over everything seen") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val rows = emb.as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val seeds = rows.take(8).map(_._2.map(_.toDouble).toArray).toArray
    val keptBatch = graft.ops.Similarity.semDedup(
        emb, "vec_id", "embedding", seeds, 0.4)
      .filter($"kept").select($"vec_id").as[Long].collect().toSet

    // id-ordered arrival (the monotonic contract of the lower-id drop
    // rule), split across three micro-batches with a kill in between
    val (p1, rest) = rows.splitAt(rows.length / 3)
    val (p2, p3) = rest.splitAt(rest.length / 2)
    val stream = MemoryStream[(Long, Seq[Float])]
    val root = tempDir("graft_sdi_")
    def startSink() = Pipeline.semDedupIngestSink(
        stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        seeds, root + "/store", root + "/ckpt", 0.4).start()
    val q1 = startSink()
    stream.addData(p1)
    q1.processAllAvailable()
    q1.stop() // gate down; vectors keep arriving
    stream.addData(p2)
    val q2 = startSink() // resume over the SAME checkpoint
    try {
      q2.processAllAvailable()
      stream.addData(p3)
      q2.processAllAvailable()
      val store = spark.read.parquet(root + "/store")
      // every arriving vector is stored with a verdict (dropped seniors
      // stay probe-able), one partition per micro-batch
      assert(store.count() == rows.length)
      assert(store.select($"ingest_batch").distinct().count() == 3)
      val admitted = store.filter($"admitted")
        .select($"vec_id").as[Long].collect().toSet
      assert(admitted == keptBatch)
    } finally q2.stop()
  }

  test("streaming span-dedup ingest gate: kill/resume; admitted corpus " +
      "equals the min-id-holder-of-every-gram batch rule") {
    implicit val sqlCtx = spark.sqlContext
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val rows = d.as[(Long, String)].collect().sortBy(_._1).toSeq
    // ground truth: doc kept iff it is the minimum-id holder of EVERY one
    // of its winnow fingerprints (keep-first-occurrence over spans)
    val fps = graft.ops.TextAnalysis.winnowGrams(d, "doc_id", "text",
      k = 16, w = 8)
    val minPerGram = fps.groupBy("gram").agg(min($"doc_id").as("m"))
    val droppedBatch = fps.join(minPerGram, Seq("gram"))
      .filter($"m" < $"doc_id").select($"doc_id").as[Long].collect().toSet
    val survivors = rows.map(_._1).toSet -- droppedBatch
    assert(droppedBatch.nonEmpty && survivors.nonEmpty) // a real test

    val (p1, rest) = rows.splitAt(rows.length / 3)
    val (p2, p3) = rest.splitAt(rest.length / 2)
    val stream = MemoryStream[(Long, String)]
    val root = tempDir("graft_spi_")
    def startSink() = Pipeline.spanDedupIngestSink(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
        root + "/fps", root + "/corpus", root + "/ckpt",
        k = 16, w = 8).start()
    val q1 = startSink()
    stream.addData(p1)
    q1.processAllAvailable()
    q1.stop() // gate down; documents keep arriving
    stream.addData(p2)
    val q2 = startSink() // resume over the SAME checkpoint
    try {
      q2.processAllAvailable()
      stream.addData(p3)
      q2.processAllAvailable()
      val admitted = spark.read.parquet(root + "/corpus")
        .select($"doc_id").as[Long].collect().toSeq
      assert(admitted.sorted == survivors.toSeq.sorted)
      // every doc's fingerprints stored exactly once (dropped docs too —
      // first occurrence wins even if itself dropped), one partition per
      // micro-batch
      val store = spark.read.parquet(root + "/fps")
      assert(store.select($"doc_id").distinct().count() == rows.length)
      assert(store.select($"ingest_batch").distinct().count() == 3)
    } finally q2.stop()
  }

  test("streamingFeatures killed and resumed from its checkpoint emits the " +
      "same closed windows as one batch run") {
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sfDir)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    // time-ordered split: phase-2 rows all carry event times at or past
    // phase 1's maximum, so none are late against the watermark the first
    // incarnation checkpointed
    val rows = raw.as[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .collect().toSeq.sortBy(_._2.getTime)
    val (first, second) = rows.splitAt(rows.length / 2)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = tempDir("graft_sf_out_") + "/agg"
    val ckpt = tempDir("graft_sf_ckpt_")
    def startSink() =
      Pipeline.parquetSink(Pipeline.streamingFeatures(sdf), out, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    // phase 1: first half, then the sink goes down (deterministic stop at a
    // batch boundary — the checkpoint-recovery path is the same one a
    // mid-batch kill exercises, minus nondeterministic replay timing)
    stream.addData(first)
    val q1 = startSink()
    q1.processAllAvailable(); q1.awaitTermination(60000); q1.stop()
    // data keeps arriving while the sink is down; the sentinel pushes the
    // watermark a day past everything so every real window closes
    val last = rows.map(_._2.getTime).max
    stream.addData(second)
    stream.addData(Seq((-1L,
      new java.sql.Timestamp(last + 24L * 3600 * 1000), -1L, "view", 0.0,
      "{}")))
    // phase 2: resume over the SAME checkpoint and output
    val q2 = startSink()
    try {
      q2.processAllAvailable(); q2.awaitTermination(60000)
    } finally q2.stop()
    val streamed = spark.read.parquet(out)
      .filter($"user_id" >= 0)
      .select($"user_id", $"window_start", $"total_events", $"click_count")
      .as[(Long, java.sql.Timestamp, Long, Long)].collect().toSet
    // every real window closed, so the streamed append output must equal a
    // single batch evaluation of the same transform over all the data
    val batch = Pipeline.streamingFeatures(raw.unionByName(
        Seq((-1L, new java.sql.Timestamp(last + 24L * 3600 * 1000), -1L,
          "view", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
      .filter($"user_id" >= 0)
      .select($"user_id", $"window_start", $"total_events", $"click_count")
      .as[(Long, java.sql.Timestamp, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("materialize loop (windowed features -> KV store) killed and " +
      "resumed converges to the batch latestPerKey snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sfDir)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val rows = raw.as[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .collect().toSeq.sortBy(_._2.getTime)
    val (first, second) = rows.splitAt(rows.length / 2)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val store = tempDir("graft_matloop_kv_") + "/kv"
    val ckpt = tempDir("graft_matloop_ckpt_")
    def startSink() = Pipeline.materializeLoopSink(sdf, store, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      stream.addData(first)
      val q1 = startSink()
      q1.processAllAvailable(); q1.awaitTermination(60000); q1.stop()
      // data keeps arriving while the job is down; the sentinel closes
      // every real window on resume
      val last = rows.map(_._2.getTime).max
      stream.addData(second)
      stream.addData(Seq((-1L,
        new java.sql.Timestamp(last + 24L * 3600 * 1000), -1L, "view",
        0.0, "{}")))
      val q2 = startSink()
      try {
        q2.processAllAvailable(); q2.awaitTermination(60000)
      } finally q2.stop()
      val got = graft.sources.KvStore.snapshot(spark, store)
        .filter($"entity_id" =!= "-1")
        .select($"entity_id", $"feature_ts".cast("timestamp"),
          $"total_events", $"total_revenue")
        .as[(String, java.sql.Timestamp, Long, Double)].collect().toSet
      // batch twin: same transform over all rows, latest closed window
      // per user (window END is the event time of the materialized row)
      val batchFeats = Pipeline.streamingFeatures(raw)
        .filter($"user_id" >= 0)
      val want = graft.ops.Materialize
        .latestPerKey(batchFeats, "user_id", "window_end", "window_start")
        .select($"user_id".cast("string"),
          $"window_end".cast("timestamp"),
          $"total_events", $"total_revenue")
        .as[(String, java.sql.Timestamp, Long, Double)].collect().toSet
      assert(got.nonEmpty)
      assert(got == want)
    } finally graft.sources.KvStore.destroy(store)
  }

  test("registry-fused sink: kill/resume converges snapshot AND the JDBC " +
      "freshness row to the batch fold (S8×S9)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val store = tempDir("graft_reg_") + "/snap"
    val ckpt = tempDir("graft_regck_")
    val dbRoot = tempDir("graft_regdb_")
    val url = s"jdbc:derby:$dbRoot/db;create=true"
    def startSink() = Pipeline.registryMaterializeSink(
        stream.toDF().toDF("user_id", "ts", "value"),
        store, ckpt, "user_id", "ts", "value", "user_features", url)
      .start()
    try {
      val q1 = startSink()
      stream.addData((1L, ts(0), 10.0), (2L, ts(0), 20.0))
      q1.processAllAvailable()
      q1.stop() // registry publisher dies mid-stream
      // data keeps arriving while the sink is down
      stream.addData((1L, ts(5), 11.0), (3L, ts(5), 30.0))
      stream.addData((2L, ts(9), 21.0))
      val q2 = startSink() // resume over the SAME checkpoint
      try q2.processAllAvailable() finally q2.stop()
      // the registry row is a pure function of the post-fold snapshot, so
      // after recovery it must equal the A13 aggregate of one batch
      // latest-per-key fold over ALL the data
      val reg = graft.sources.JdbcRegistry
        .readTable(spark, url, "feature_freshness")
        .select("feature_view_name", "last_updated_us", "row_count",
          "value_sum")
        .as[(String, Long, Long, Double)].collect().toList
      assert(reg == List(
        ("user_features", ts(9).getTime * 1000L, 3L, 11.0 + 21.0 + 30.0)))
      // and the snapshot itself converged (same assertion as the S8 test)
      val snap = spark.read.parquet(store)
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      assert(snap == Map(1L -> 11.0, 2L -> 21.0, 3L -> 30.0))
    } finally {
      try java.sql.DriverManager
        .getConnection(s"jdbc:derby:$dbRoot/db;shutdown=true")
      catch { case _: java.sql.SQLException => () } // success SIGNALS via SQLException
    }
  }

  test("online-store upsert recovers from a crash between retire and promote") {
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val store = tempDir("graft_crash_") + "/snap"
    Pipeline.upsertSnapshot(
      Seq((1L, ts(0), 10.0), (2L, ts(0), 20.0)).toDF("user_id", "ts", "value"),
      store, "user_id", "ts", "value")
    // simulate the crash window: live snapshot retired to .old, promote
    // never happened
    import org.apache.hadoop.fs.Path
    val fs = new Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(store), new Path(store + ".old")))
    // the replayed batch must fold into the retired snapshot, not an empty one
    Pipeline.upsertSnapshot(
      Seq((3L, ts(5), 30.0)).toDF("user_id", "ts", "value"),
      store, "user_id", "ts", "value")
    val snap = spark.read.parquet(store)
      .select("user_id", "value").as[(Long, Double)].collect().toMap
    assert(snap == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("streaming parquet sink writes date-partitioned append output (S5)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .as[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .collect().toSeq
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = tempDir("graft_sink_")
    val ckpt = tempDir("graft_ckpt_")
    // AvailableNow snapshots "available" offsets at query start — data must
    // be in the stream BEFORE start() (adding it after is a lost race)
    stream.addData(rows)
    // close all windows by pushing the watermark past the data
    val last = rows.map(_._2.getTime).max
    stream.addData(Seq((-1L,
      new java.sql.Timestamp(last + 24L * 3600 * 1000), -1L, "view", 0.0,
      "{}")))
    val q = Pipeline.parquetSink(Pipeline.streamingFeatures(sdf), out, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      q.awaitTermination(60000)
    } finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() > 0)
    assert(written.columns.contains("event_date")) // partition column
    val dirs = new java.io.File(out).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(dirs > 0)
  }

  test("streaming heavy hitters emit only keys at the window threshold") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val hh = Pipeline.streamingHeavyHitters(
      stream.toDF().toDF("ts", "k"), "ts", "k", minCount = 3L)
    val q = hh.writeStream.format("memory").queryName("shh")
      .outputMode("append").start()
    try {
      stream.addData(
        (ts(0), "hot"), (ts(1), "hot"), (ts(2), "hot"),
        (ts(3), "warm"), (ts(4), "warm"), (ts(5), "cold"))
      q.processAllAvailable()
      stream.addData((ts(24 * 60), "later")) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("shh").collect()
        .map(r => (r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(("hot", 3L))) // warm(2)/cold(1) below threshold
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dim, misses kept NULL") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val enriched = Pipeline.streamStaticEnrich(
      stream.toDF().toDF("user_id", "value"), dim, "user_id")
    val q = enriched.writeStream.format("memory").queryName("sse")
      .outputMode("append").start()
    try {
      stream.addData((1L, 10.0), (3L, 30.0))
      q.processAllAvailable()
      val rows = spark.table("sse").collect()
        .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(rows == Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("drift circuit-breaker gate: in-band batch admitted, shifted batch " +
      "quarantined wholesale; kill/resume replays the same verdicts") {
    implicit val sqlCtx = spark.sqlContext
    // reference: uniform over (0, 4] binned at 1/2/3 -> shares 0.25 each
    val edges = Array(1.0, 2.0, 3.0)
    val shares = Array(0.25, 0.25, 0.25, 0.25)
    // batch 1 matches the reference; batch 2 is mass-shifted into the top
    // bin; batch 3 in-band again (post-resume)
    val b1 = (1 to 40).map(i => (i.toLong, 0.5 + (i % 4) * 1.0))
    val b2 = (41 to 80).map(i => (i.toLong, 3.5))
    val b3 = (81 to 120).map(i => (i.toLong, 0.5 + (i % 4) * 1.0))
    val stream = MemoryStream[(Long, Double)]
    val root = tempDir("graft_dg_")
    def startSink() = Pipeline.driftGateSink(
        stream.toDF().toDF("id", "v"), "v", edges, shares,
        threshold = 0.25, root + "/admit", root + "/quar",
        root + "/audit", root + "/ckpt").start()
    val q1 = startSink()
    stream.addData(b1)
    q1.processAllAvailable()
    q1.stop() // breaker process dies mid-stream
    stream.addData(b2)
    val q2 = startSink() // resume over the same checkpoint
    try {
      q2.processAllAvailable()
      stream.addData(b3)
      q2.processAllAvailable()
      val admitted = spark.read.parquet(root + "/admit")
        .select($"id").as[Long].collect().toSet
      val quarantined = spark.read.parquet(root + "/quar")
        .select($"id").as[Long].collect().toSet
      assert(admitted == (b1 ++ b3).map(_._1).toSet)
      assert(quarantined == b2.map(_._1).toSet)
      val audit = spark.read.parquet(root + "/audit")
        .select($"ingest_batch", $"n_rows", $"psi", $"admitted")
        .as[(Long, Long, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      assert(audit.size == 3)
      // in-band batches score psi 0 (exact quarter shares); the shifted
      // batch concentrates in one bin -> only that bin contributes
      // (epsilon-free convention): (0.25-1)*ln(0.25/1) = 1.039721
      val verdicts = audit.values.toSeq.sortBy(_._1)
      assert(verdicts.map(v => (v._2, v._3, v._4)) ==
        Seq((40L, 0.0, true), (40L, 1.039721, false), (40L, 0.0, true)))
    } finally q2.stop()
  }

  test("drift gate scores only clean values: NULL/NaN rows are counted, " +
      "not binned; a batch with nothing to score is quarantined whole") {
    val edges = Array(10.0, 20.0, 30.0)
    val shares = Array(0.25, 0.25, 0.25, 0.25)
    // two values per quarter bin: PSI 0 against the uniform reference
    val inBand: Seq[java.lang.Double] =
      Seq(5.0, 15.0, 25.0, 35.0, 6.0, 16.0, 26.0, 36.0).map(Double.box)
    val nulls = Seq.fill[java.lang.Double](4)(null)
    val nans = Seq.fill[java.lang.Double](4)(Double.NaN)
    val batches = Seq(inBand, inBand ++ nulls, inBand ++ nans, nulls ++ nans)
    val root = tempDir("graft_dgc_")
    batches.zipWithIndex.foreach { case (vs, b) =>
      Pipeline.ingestDriftGateBatch(
        vs.zipWithIndex.map { case (v, i) => (b * 100L + i, v) }
          .toDF("id", "v"),
        b.toLong, "v", edges, shares, threshold = 0.2, root + "/admit",
        root + "/quar", root + "/audit")
    }
    val audit = spark.read.parquet(root + "/audit")
      .select($"ingest_batch", $"n_rows", $"psi", $"admitted")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(audit.toSeq == Seq((0L, 8L, 0.0, true), (1L, 12L, 0.0, true),
      (2L, 12L, 0.0, true), (3L, 8L, 0.0, false)))
    def ids(store: String) = spark.read.parquet(root + store)
      .select($"id").as[Long].collect().toSet
    assert(ids("/admit") == (0 until 3).flatMap(b =>
      batches(b).indices.map(b * 100L + _)).toSet)
    assert(ids("/quar") == (0 until 8).map(300L + _).toSet)
  }

  test("vocabulary gate: reference-shaped batch admitted, alien-token " +
      "batch quarantined; kill/resume replays the same verdicts") {
    implicit val sqlCtx = spark.sqlContext
    // reference: 'alpha' and 'beta' half-and-half, no tail mass
    val ref = Seq(("alpha", 0.5), ("beta", 0.5))
    val b1 = (1 to 20).map(i => (i.toLong, "alpha beta alpha beta"))
    val b2 = (21 to 40).map(i => (i.toLong, "spam casino pills spam"))
    val b3 = (41 to 60).map(i => (i.toLong, "beta alpha beta alpha"))
    val stream = MemoryStream[(Long, String)]
    val root = tempDir("graft_vg_")
    def startSink() = Pipeline.vocabGateSink(
        stream.toDF().toDF("doc_id", "text"), "text", ref, alpha = 0.5,
        threshold = 0.2, root + "/admit", root + "/quar",
        root + "/audit", root + "/ckpt").start()
    val q1 = startSink()
    stream.addData(b1)
    q1.processAllAvailable()
    q1.stop() // gate dies mid-stream
    stream.addData(b2)
    val q2 = startSink() // resume over the same checkpoint
    try {
      q2.processAllAvailable()
      stream.addData(b3)
      q2.processAllAvailable()
      val admitted = spark.read.parquet(root + "/admit")
        .select($"doc_id").as[Long].collect().toSet
      val quarantined = spark.read.parquet(root + "/quar")
        .select($"doc_id").as[Long].collect().toSet
      assert(admitted == (b1 ++ b3).map(_._1).toSet)
      assert(quarantined == b2.map(_._1).toSet)
      val audit = spark.read.parquet(root + "/audit")
        .select($"ingest_batch", $"n_docs", $"n_tokens", $"js", $"admitted")
        .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
      assert(audit.length == 3)
      // in-band batches: tiny smoothing-only JS; alien batch: all mass
      // lands in <other>, which the reference gives ZERO share -> large
      assert(audit(0)._4 < 0.05 && audit(0)._5)
      assert(audit(1)._4 > 0.5 && !audit(1)._5)
      assert(audit(2)._4 < 0.05 && audit(2)._5)
      assert(audit.forall(_._3 == 80L)) // 20 docs x 4 tokens per batch
    } finally q2.stop()
  }

  test("streaming drift monitor: closed-window histogram + ref fold " +
      "reproduces the batch sweepVsRef on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Drift
    // reference = a fixed baseline sample; live = shifted values
    val ref = (1 to 200).map(i => 1.0 + (i % 50) / 5.0).toDF("value")
    val bounds = Drift.refBounds(ref, Seq("value"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:05:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val live = (1 to 150).map(i => (ts(i % 40), 4.0 + (i % 60) / 4.0))
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val sdf = stream.toDF().toDF("ts", "value")
    val hist = Pipeline.streamingDriftHistogram(sdf, "ts", bounds,
      Seq("value"), windowLen = "1 hour", delay = "10 minutes", bins = 50)
    val q = hist.writeStream.format("memory").queryName("drifthist")
      .outputMode("append").start()
    try {
      stream.addData(live)
      q.processAllAvailable()
      // closing event far in the future finalizes the 00:00 window
      stream.addData(Seq((ts(24 * 60), -1.0)))
      q.processAllAvailable()
      val refHist = Drift.refHistogram(ref, Seq("value"), bounds, bins = 50)
        .withColumnRenamed("cnt", "cb")
      val closed = spark.table("drifthist")
        .filter($"window_start" === java.sql.Timestamp.valueOf(
          "2024-01-01 00:00:00"))
      assert(closed.count() > 0)
      val streamKs = Drift.ksFromHistograms(
        closed.select($"window_start", $"feature", $"bin", $"ca"),
        refHist, groupCols = Seq("window_start")).collect()
      // batch twin over exactly the rows of that closed window
      val batchRows = live.filter(_._1.before(
          java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
        .map(_._2).toDF("value")
      val batchKs = Drift.sweepVsRef(batchRows, ref, Seq("value"),
        bins = 50).collect()
      assert(streamKs.length == 1 && batchKs.length == 1)
      assert(streamKs.head.getAs[Double]("ks_stat")
        == batchKs.head.getAs[Double]("ks_stat"))
      assert(streamKs.head.getAs[Long]("n_a")
        == batchKs.head.getAs[Long]("n_a"))
      assert(streamKs.head.getAs[Long]("n_b")
        == batchKs.head.getAs[Long]("n_b"))
      // and the shifted live sample actually reads as drifted
      assert(streamKs.head.getAs[Double]("ks_stat") > 0.2)
    } finally q.stop()
  }

  /** The seven epoch folds: each fold's stores and its call for (epoch,
    * store root). Batch 0 and batch 1 differ so that both epochs hold
    * rows, and the gates admit batch 0 and quarantine batch 1. */
  private def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
  private lazy val docs = Seq(
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "structured streaming writes parquet epochs")),
    Seq((3L, "a prefix then the quick brown fox jumps over the lazy dog"),
      (4L, "a wholly unrelated sentence about feature stores")))
    .map(_.toDF("doc_id", "text"))
  private val edges = Array(1.0, 2.0, 3.0)
  private val shares = Array(0.25, 0.25, 0.25, 0.25)
  private lazy val folds: Seq[(String, Seq[String], (Long, String) => Unit)] = Seq(
    ("histogram", Seq("store"), (b, root) => Pipeline.ingestHistogramBatch(
      Seq(Seq((ts(0), 5.0), (ts(1), 15.0), (ts(2000), 25.0)),
        Seq((ts(2000), 25.0), (ts(4000), 75.0)))(b.toInt)
        .toDF("ts", "value"), b, "ts", "value", 0.0, 100.0, 100,
      root + "/store")),
    ("flagship", Seq("store"), (b, root) => Pipeline.ingestFlagshipBatch(
      Seq(Seq((1L, ts(0), "view", 10.0, 7L), (2L, ts(10), "click", 0.0, 9L)),
        Seq((1L, ts(20), "purchase", 99.0, 7L),
          (2L, ts(90), "view", 40.0, 8L)))(b.toInt)
        .toDF("user_id", "ts_parsed", "event_type", "value", "k"),
      b, root + "/store")),
    ("near-dup", Seq("sigs", "corpus"), (b, root) =>
      Pipeline.ingestNearDupBatch(docs(b.toInt), b, "doc_id", "text",
        root + "/sigs", root + "/corpus", 3, 16, 4, 0.5)),
    ("semantic", Seq("store"), (b, root) => Pipeline.ingestSemDedupBatch(
      Seq(Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))),
        Seq((3L, Seq(0.99, 0.01)), (4L, Seq(-1.0, 0.0))))(b.toInt)
        .toDF("vec_id", "embedding"), b, "vec_id", "embedding",
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), root + "/store", 0.9)),
    ("span", Seq("fps", "corpus"), (b, root) =>
      Pipeline.ingestSpanDedupBatch(docs(b.toInt), b, "doc_id", "text",
        root + "/fps", root + "/corpus", 16, 8)),
    ("drift gate", Seq("admit", "quar", "audit"), (b, root) =>
      Pipeline.ingestDriftGateBatch(
        Seq((1 to 8).map(i => (i.toLong, 0.5 + i % 4)),
          (9 to 16).map(i => (i.toLong, 3.5)))(b.toInt).toDF("id", "v"),
        b, "v", edges, shares, 0.25, root + "/admit", root + "/quar",
        root + "/audit")),
    ("vocab gate", Seq("admit", "quar", "audit"), (b, root) =>
      Pipeline.ingestVocabGateBatch(
        Seq((1 to 4).map(i => (i.toLong, "alpha beta alpha beta")),
          (5 to 8).map(i => (i.toLong, "spam casino pills spam")))(b.toInt)
          .toDF("doc_id", "text"),
        b, "text", Seq(("alpha", 0.5), ("beta", 0.5)), 0.5, 0.2,
        root + "/admit", root + "/quar", root + "/audit")))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("epoch folds replay in place under a STATIC session: a replayed " +
      "epoch rewrites only itself, and no fold touches session conf") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    // epoch 0's files as written: name, size and modification time
    def epoch0(store: String): Set[(String, Long, Long)] =
      Option(new java.io.File(store + "/ingest_batch=0").listFiles())
        .fold(Set.empty[(String, Long, Long)])(_.map(f =>
          (f.getName, f.length, f.lastModified)).toSet)
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "STATIC")
    try folds.foreach { case (name, stores, fold) =>
      val root = tempDir("graft_epoch_")
      def call(b: Long, dir: String): Unit = {
        fold(b, dir)
        assert(spark.conf.get(key) == "STATIC", s"$name wrote $key")
      }
      call(0L, root + "/once")
      call(1L, root + "/once")
      call(0L, root + "/replay")
      val first = stores.map(st => epoch0(s"$root/replay/$st"))
      call(1L, root + "/replay")
      call(1L, root + "/replay") // the replayed epoch
      assert(first.exists(_.nonEmpty), s"$name: no store holds epoch 0")
      stores.zip(first).foreach { case (st, files) =>
        assert(epoch0(s"$root/replay/$st") == files,
          s"$name/$st: the replay rewrote epoch 0")
        assert(sameRows(spark.read.parquet(s"$root/replay/$st"),
            spark.read.parquet(s"$root/once/$st")),
          s"$name/$st: the replayed store differs from a single pass")
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("readStore reads every fold's store with spark.read.parquet's " +
      "schema and rows, and runs no job") {
    val root = tempDir("graft_readstore_")
    val stores = folds.flatMap { case (name, st, fold) =>
      Seq(0L, 1L).foreach(fold(_, s"$root/$name"))
      st.map(x => s"$root/$name/$x")
    }
    val snap = s"$root/snapshot"
    Seq(0L, 5L).foreach(m => Pipeline.upsertSnapshot(
      Seq((1L, ts(m), 10.0 + m), (2L, ts(m), 20.0)).toDF("user_id", "ts", "value"),
      snap, "user_id", "ts", "value"))
    (stores :+ snap).foreach { p =>
      var viaStore: DataFrame = null
      assert(jobsIn { viaStore = Pipeline.readStore(spark, p) } == 0, p)
      val viaSpark = spark.read.parquet(p)
      assert(viaStore.schema == viaSpark.schema, p)
      assert(sameRows(viaStore, viaSpark), p)
    }
    assert(Pipeline.readStore(spark, s"$root/histogram/store")
      .schema("ingest_batch").dataType == IntegerType)
  }

  test("job budget: ingestFlagshipBatch 2 jobs, upsertSnapshot over an " +
      "existing store 3; a batch whose columns differ still throws") {
    val raw = Tables.events(spark, sfDir)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val root = tempDir("graft_budget_")
    val parsed = graft.ops.Parse.parseEvents(raw)
    Pipeline.ingestFlagshipBatch(parsed, 0L, root + "/partials")
    // the partials' aggregation shuffle, then the epoch write
    assert(jobsIn(Pipeline.ingestFlagshipBatch(parsed, 1L,
      root + "/partials")) == 2)
    val feats = Pipeline.streamingFeatures(raw)
    val snap = root + "/snapshot"
    Pipeline.upsertSnapshot(feats.withColumn("tb", lit(0L)), snap,
      "user_id", "window_end", "tb")
    // the features' shuffle, latestPerKey's shuffle, then the write
    assert(jobsIn(Pipeline.upsertSnapshot(feats.withColumn("tb", lit(1L)),
      snap, "user_id", "window_end", "tb")) == 3)
    val before = spark.read.parquet(snap).collect().toSet
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.upsertSnapshot(feats.drop("click_count").withColumn("tb",
        lit(2L)), snap, "user_id", "window_end", "tb")
    }
    assert(spark.read.parquet(snap).collect().toSet == before)
  }
}
