package graft

import graft.sources.KvStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** S8 over embedded RocksDB: the oracle (`s_kv_store`) verifies the
  * store image values end to end; this spec covers the KV mechanics an
  * oracle can't see — arrival-order independence, streaming kill/resume
  * over a checkpoint (batch redelivery), point-lookup alignment and
  * misses, 32-way concurrent partition writes, and the fail-loud schema
  * guard.
  */
class KvStoreSpec extends SparkSpec {
  import spark.implicits._

  private val created = scala.collection.mutable.ListBuffer[String]()

  private def freshPath(): String = {
    val root = tempDir("graft_kvspec_")
    created += root
    root + "/store"
  }

  override def afterAll(): Unit = {
    created.foreach(root => KvStore.destroy(root + "/store"))
    super.afterAll()
  }

  private def ts(min: Long) = new java.sql.Timestamp(1700000000000L +
    min * 60000L)

  test("event-time LWW: out-of-order and replayed upserts converge to " +
      "latestPerKey of the union; doubles survive bit-exact") {
    val path = freshPath()
    // 0.1 + 0.2 is the canonical non-representable double
    // (0.30000000000000004): it must come back with those exact bits
    val older = Seq((1L, ts(0), 10L, 99.0, "a"),
      (2L, ts(1), 11L, 0.1 + 0.2, "b")).toDF("k", "ts", "tb", "v", "s")
    val newer = Seq((1L, ts(5), 12L, 7.25, "c"),
      (3L, ts(5), 13L, 3.5, "d")).toDF("k", "ts", "tb", "v", "s")
    // newest first, then stale, then REPLAY the stale batch
    KvStore.upsertLatest(newer, path, "k", "ts", "tb", Seq("v", "s"))
    KvStore.upsertLatest(older, path, "k", "ts", "tb", Seq("v", "s"))
    KvStore.upsertLatest(older, path, "k", "ts", "tb", Seq("v", "s"))
    val snap = KvStore.snapshot(spark, path)
      .select($"entity_id", $"v", $"s").as[(String, Double, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(snap("1") == ((7.25, "c")))   // stale replay did not resurrect
    assert(snap("2") == ((0.1 + 0.2, "b")))  // bit-exact round trip
    assert(snap("3") == ((3.5, "d")))
    // replay of the OLD batch must not have resurrected key 1's stale row
    val t1 = KvStore.snapshot(spark, path).filter($"entity_id" === "1")
      .select($"tiebreak").as[Long].head()
    assert(t1 == 12L)
  }

  test("getBatch (the serving primitive) agrees with pointLookup field " +
      "for field; missing keys come back all-null") {
    val path = freshPath()
    val rows = Seq((1L, ts(0), 10L, 7.25, "a"),
      (2L, ts(1), 11L, 0.1 + 0.2, "b")).toDF("k", "ts", "tb", "v", "s")
    KvStore.upsertLatest(rows, path, "k", "ts", "tb", Seq("v", "s"))
    val got = KvStore.getBatch(path, Seq("1", "2", "404"))
    assert(got(0) == Seq(7.25, "a"))
    assert(got(1) == Seq(0.1 + 0.2, "b")) // bit-exact double round trip
    assert(got(2) == Seq(null, null))     // miss -> all-null, no throw
    val viaDf = KvStore.pointLookup(
        Seq("1", "2", "404").toDF("k"), path, "k")
      .select($"v", $"s").collect()
      .map(r => Seq(if (r.isNullAt(0)) null else r.getDouble(0),
        r.getString(1)))
    assert(got.map(_.toList).toList == viaDf.map(_.toList).toList)
  }

  test("same-ts tiebreak decides; equal (ts, tiebreak) replay rewrites " +
      "identically (idempotent)") {
    val path = freshPath()
    val a = Seq((9L, ts(3), 100L, 1.0, "lo")).toDF("k", "ts", "tb", "v", "s")
    val b = Seq((9L, ts(3), 101L, 2.0, "hi")).toDF("k", "ts", "tb", "v", "s")
    KvStore.upsertLatest(b, path, "k", "ts", "tb", Seq("v", "s"))
    KvStore.upsertLatest(a, path, "k", "ts", "tb", Seq("v", "s"))
    KvStore.upsertLatest(b, path, "k", "ts", "tb", Seq("v", "s"))
    val r = KvStore.snapshot(spark, path).select($"tiebreak", $"v", $"s")
      .as[(Long, Double, String)].head()
    assert(r == ((101L, 2.0, "hi")))
  }

  test("32-way concurrent partition writes over disjoint keys land " +
      "completely (shared-handle write path)") {
    val path = freshPath()
    val big = spark.range(0, 2000)
      .select($"id".as("k"),
        lit(ts(1)).as("ts"),
        $"id".as("tb"),
        ($"id" * 1.5).as("v"),
        concat(lit("u"), $"id").as("s"))
      .repartition(32)
    KvStore.upsertLatest(big, path, "k", "ts", "tb", Seq("v", "s"))
    val snap = KvStore.snapshot(spark, path)
    assert(snap.count() == 2000)
    assert(snap.agg(sum($"v")).as[Double].head() == (0 until 2000)
      .map(_ * 1.5).sum)
  }

  test("partitions that all hold every key: the per-key lock keeps the " +
      "store equal to latestPerKey (seeded, 5 runs in shuffled order)") {
    // every partition holds each key once, so every task races every
    // other on every key; few distinct ts, so the tiebreak decides often
    val (nKeys, nParts) = (1000, 32)
    val rnd = new scala.util.Random(1502L)
    val blocks = (0 until nParts).map(p => (0 until nKeys).map(k =>
      (k.toLong, ts(rnd.nextInt(50)), (p * nKeys + k).toLong, rnd.nextDouble())))
    val expected = graft.ops.Materialize
      .latestPerKey(blocks.flatten.toDF("k", "ts", "tb", "v"), "k", "ts", "tb")
      .select($"k".cast("string"), $"tb", $"v").as[(String, Long, Double)]
      .collect().toSet
    (1 to 5).foreach { run =>
      val path = freshPath()
      val rows = rnd.shuffle(blocks).flatMap(b => rnd.shuffle(b))
      val batch = spark.sparkContext.parallelize(rows, nParts)
        .toDF("k", "ts", "tb", "v")
      assert(batch.rdd.mapPartitions(it =>
          Iterator(it.map(_.getLong(0)).toSet.size)).collect()
        .sameElements(Array.fill(nParts)(nKeys)))
      KvStore.upsertLatest(batch, path, "k", "ts", "tb", Seq("v"))
      val got = KvStore.snapshot(spark, path)
        .select($"entity_id", $"tiebreak", $"v").as[(String, Long, Double)]
        .collect().toSet
      assert(got == expected, s"run $run: ${(expected -- got).size} keys " +
        "lost their newest row")
    }
  }

  test("exact (ts, tiebreak) tie: the later write wins") {
    val path = freshPath()
    Seq((1.0, "first"), (2.0, "second")).foreach { case (v, s) =>
      KvStore.upsertLatest(Seq((5L, ts(1), 7L, v, s))
        .toDF("k", "ts", "tb", "v", "s"), path, "k", "ts", "tb", Seq("v", "s"))
    }
    assert(KvStore.getBatch(path, Seq("5")) == Seq(Seq(2.0, "second")))
  }

  test("job budget: upsertLatest runs the batch's own jobs and one more, " +
      "no shuffle of its own") {
    val raw = Tables.events(spark, sfDir)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val feats = graft.streaming.Pipeline.streamingFeatures(raw)
      .withColumn("tb", lit(0L))
    val cols = Seq("total_events", "click_count", "unique_k_approx",
      "total_revenue")
    val path = freshPath()
    KvStore.upsertLatest(feats, path, "user_id", "window_end", "tb", cols)
    // the features' aggregation shuffle, then the upsert itself
    assert(jobsIn(KvStore.upsertLatest(feats, path, "user_id", "window_end",
      "tb", cols)) == 2)
  }

  test("point lookup: request order and rows preserved; missing entities " +
      "surface NULL features") {
    val path = freshPath()
    val feats = Seq((1L, ts(0), 1L, 10.0, "x"), (2L, ts(0), 2L, 20.0, "y"))
      .toDF("k", "ts", "tb", "v", "s")
    KvStore.upsertLatest(feats, path, "k", "ts", "tb", Seq("v", "s"))
    val requests = Seq((2L, "req_a"), (7L, "req_b"), (1L, "req_c"))
      .toDF("k", "tag")
    val out = KvStore.pointLookup(requests, path, "k")
      .select($"k", $"tag", $"v", $"s").collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 2L && out(0).getDouble(2) == 20.0)
    assert(out(1).getLong(0) == 7L && out(1).isNullAt(2) && out(1).isNullAt(3))
    assert(out(2).getLong(0) == 1L && out(2).getString(3) == "x")
  }

  test("schema guard: a second writer with different feature columns " +
      "fails loud") {
    val path = freshPath()
    val feats = Seq((1L, ts(0), 1L, 10.0, "x")).toDF("k", "ts", "tb", "v", "s")
    KvStore.upsertLatest(feats, path, "k", "ts", "tb", Seq("v", "s"))
    val e = intercept[IllegalArgumentException] {
      KvStore.upsertLatest(feats, path, "k", "ts", "tb", Seq("s", "v"))
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("streaming sink killed mid-stream resumes from its checkpoint; " +
      "store equals the batch latestPerKey fold (replay-safe)") {
    implicit val sqlCtx = spark.sqlContext
    val path = freshPath()
    val ckpt = tempDir("graft_kvckpt_")
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    def startSink() = KvStore.streamingSink(
        stream.toDF().toDF("k", "ts", "tb", "v"),
        path, ckpt, "k", "ts", "tb", Seq("v"))
      .start()
    val q1 = startSink()
    stream.addData((1L, ts(0), 1L, 10.0), (2L, ts(0), 2L, 20.0))
    q1.processAllAvailable()
    q1.stop() // kill the sink; data keeps arriving while down
    stream.addData((1L, ts(5), 3L, 11.0), (3L, ts(5), 4L, 30.0))
    stream.addData((2L, ts(9), 5L, 21.0))
    val q2 = startSink() // resume over the SAME checkpoint
    try {
      q2.processAllAvailable()
      val snap = KvStore.snapshot(spark, path)
        .select($"entity_id", $"v").as[(String, Double)].collect().toMap
      val all = Seq((1L, ts(0), 1L, 10.0), (2L, ts(0), 2L, 20.0),
        (1L, ts(5), 3L, 11.0), (3L, ts(5), 4L, 30.0), (2L, ts(9), 5L, 21.0))
        .toDF("k", "ts", "tb", "v")
      val batchFold = graft.ops.Materialize
        .latestPerKey(all, "k", "ts", "tb")
        .select($"k".cast("string"), $"v").as[(String, Double)]
        .collect().toMap
      assert(snap == batchFold)
      assert(snap == Map("1" -> 11.0, "2" -> 21.0, "3" -> 30.0))
    } finally q2.stop()
  }
}
