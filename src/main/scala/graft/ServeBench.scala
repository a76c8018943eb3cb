package graft

import org.apache.spark.sql.functions._

/** Online-serving latency benchmark — the ONLY numbers the reference
  * publishes are its serving path (BASELINE.md: Feast + Redis, batch of
  * 3 users × 4 features, 1.14 ms average / 1.57 ms P95 / < 20 ms SLA),
  * so this is the direct baseline comparison. It measures the SAME
  * request shape against the engine's embedded online store:
  *
  *  1. materialize the latest-per-key order snapshot into the KV store
  *     (the s_kv_store production path) — ~15 K entities at sf0.1 with
  *     3 feature columns;
  *  2. time N batch-of-3 requests through `KvStore.getBatch` (the
  *     serving-service primitive: store get + decode, no Spark plan —
  *     exactly what the reference's inference_service.py does per call);
  *  3. report avg / p50 / p95 / p99 microseconds, plus one timing of the
  *     DataFrame `pointLookup` integration for contrast (that path pays
  *     a Spark plan per call and is for batch jobs, not serving).
  *
  * `sbt "runMain graft.ServeBench [sfDir] [requests]"`.
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val n = if (args.length > 1) args(1).toInt else 5000
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("graft_servebench_")
    val path = dir.resolve("kv").toString
    try {
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderdate").cast("timestamp")
            .as("ts"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus"),
          col("o_orderkey").as("last_order"))
      sources.KvStore.upsertLatest(orders, path, "o_custkey", "ts",
        "o_orderkey", Seq("o_totalprice", "o_orderstatus", "last_order"))
      val maxKey = orders.agg(max(col("o_custkey"))).head().getLong(0)
      def keysFor(i: Int): Seq[String] =
        Seq(0, 1, 2).map(j => String.valueOf((i * 37L + j * 101L) % maxKey + 1))
      // warmup (JIT + block cache)
      (1 to 500).foreach(i => sources.KvStore.getBatch(path, keysFor(i)))
      val lat = new Array[Long](n)
      var i = 0
      while (i < n) {
        val ks = keysFor(i)
        val t0 = System.nanoTime()
        val r = sources.KvStore.getBatch(path, ks)
        lat(i) = System.nanoTime() - t0
        require(r.length == 3)
        i += 1
      }
      java.util.Arrays.sort(lat)
      def us(v: Long): Double = v / 1e3
      val avg = us(lat.sum / n)
      println(f"SERVE batch-of-3 getBatch over $n requests: " +
        f"avg=$avg%.1fus p50=${us(lat(n / 2))}%.1fus " +
        f"p95=${us(lat(n * 95 / 100))}%.1fus p99=${us(lat(n * 99 / 100))}%.1fus")
      // the DataFrame integration path, for contrast (pays a Spark plan
      // per request — the batch-join shape, not the serving shape)
      import spark.implicits._
      val t0 = System.nanoTime()
      val reqs = 20
      (1 to reqs).foreach { i =>
        sources.KvStore.pointLookup(
          keysFor(i).map(_.toLong).toDF("o_custkey"), path, "o_custkey")
          .collect()
      }
      println(f"SERVE pointLookup DataFrame path: " +
        f"${(System.nanoTime() - t0) / 1e6 / reqs}%.1f ms/request " +
        f"(plan+collect per call; batch-job integration, not serving)")
    } finally {
      sources.KvStore.destroy(path)
      spark.stop()
    }
  }
}
