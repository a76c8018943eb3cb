package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming throughput soak (round-11 verdict #5): measures the max
  * sustained events/s of the engine's three streaming paths against the
  * reference's published default ingest rate (10 events/s,
  * `stream_generator.py`):
  *
  *   - `flagship_kv`  — rate source → watermarked sliding-window features
  *                      ([[graft.streaming.Pipeline.streamingFeatures]])
  *                      → LWW KV upsert (the continuous materialize loop)
  *   - `sessions_fmgws` — rate source → flatMapGroupsWithState
  *                      sessionizer ([[graft.ops.Session.sessionizeStream]])
  *   - `sessions_tws` — the same sessions on Spark 4's transformWithState
  *                      ([[graft.ops.Session.sessionizeTws]], RocksDB)
  *
  * Method: for each pipeline, soak a geometric ladder of `rowsPerSecond`
  * levels for `soakSecs` each on the built-in `rate` source. A level is
  * SUSTAINED iff at soak end the source backlog (latest generated offset
  * minus last processed offset, in rate-source SECONDS) is within
  * `maxLagSecs` — the direct "is the query keeping up with the generator"
  * reading; batch-duration heuristics false-positive under AQE warm-up.
  * The ladder stops at the first unsustained level; prints one JSON line
  * per pipeline plus a closing summary line (the BENCH.md table rows).
  *
  * Session-shape note: the soak's event projection gives each session a
  * bounded life (200 events, one user per 200 consecutive values, 5-min
  * gap over the 1-min-per-value clock), so sessions CLOSE as the
  * watermark advances and state reaches a steady plateau — an endless
  * per-key session would measure buffer growth, not throughput.
  */
object StreamBench {

  private def parseOffset(s: String): Long =
    // rate-source offsets serialize as a bare long (LongOffset JSON)
    try s.trim.stripPrefix("\"").stripSuffix("\"").toLong
    catch { case _: Throwable => -1L }

  /** Drain one soak level; returns (sustained, backlogSecs, rowsPerSec
    * processed, state rows). */
  private def soak(q: StreamingQuery, soakSecs: Int,
                   maxLagSecs: Long): (Boolean, Long, Double, Long) = {
    Thread.sleep(soakSecs * 1000L)
    val progs = q.recentProgress.toSeq
    q.stop()
    q.awaitTermination()
    val withData = progs.filter(_.numInputRows > 0)
    if (withData.isEmpty) return (false, Long.MaxValue, 0.0, 0L)
    val last = withData.last
    val src = last.sources.head
    val lag = parseOffset(src.latestOffset) - parseOffset(src.endOffset)
    // skip the first half as warm-up; throughput = rows / wall over the
    // settled tail
    val tail = withData.drop(withData.size / 2)
    val rows = tail.map(_.numInputRows).sum
    val wallMs = tail.map(p =>
      Option(p.durationMs.get("triggerExecution"))
        .map(_.toLong).getOrElse(0L)).sum.toDouble
    val rps = if (wallMs > 0) rows * 1000.0 / wallMs else 0.0
    val stateRows = Option(last.stateOperators).toSeq.flatten
      .map(_.numRowsTotal).sum
    (lag <= maxLagSecs, lag, rps, stateRows)
  }

  def main(args: Array[String]): Unit = {
    val cpus = LocalSession.envCpus(8)
    val soakSecs = sys.env.getOrElse("SPARK_GRAFT_SOAK_SECS", "25").toInt
    val work = java.nio.file.Files
      .createTempDirectory("streambench").toString
    val spark = LocalSession(cpus,
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming" +
          ".state.RocksDBStateStoreProvider"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    /** rate source at R rows/s with the soak event projection. */
    def rated(r: Long): DataFrame =
      spark.readStream.format("rate")
        .option("rowsPerSecond", r)
        .option("numPartitions", math.min(8L, math.max(1L, r / 1000L)))
        .load()

    def flagshipKv(r: Long): StreamingQuery = {
      val store = s"$work/kv_$r"
      graft.streaming.Pipeline.materializeLoopSink(
          graft.streaming.Pipeline.syntheticEvents(rated(r)),
          store, s"$work/ckpt_kv_$r")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .start()
    }

    /** Session soak events: one user per 200 consecutive values (each
      * session spans 200 event-time minutes, then the user goes silent
      * forever), 1-min-per-value clock — the 5-min gap closes every
      * session 5 event-minutes after its last value, so FMGWS/TWS state
      * holds ~a handful of open sessions per in-flight user. */
    def sessionEvents(r: Long) =
      rated(r).select(
          (col("value") / 200L).cast("long").as("userId"),
          timestamp_seconds(lit(1709251200L) + col("value") * 60L).as("ts"),
          (col("value") % 100L).cast("double").as("value"))
        .as[graft.ops.Session.SEv]
        .withWatermark("ts", "0 seconds")

    val gap = 5L * 60 * 1000000 // 5 event-minutes, in micros

    def sessionsFmgws(r: Long): StreamingQuery =
      graft.ops.Session.sessionizeStream(sessionEvents(r), gap)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/ckpt_fm_$r")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .format("noop").start()

    def sessionsTws(r: Long): StreamingQuery =
      graft.ops.Session.sessionizeTws(sessionEvents(r), gap)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/ckpt_tw_$r")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .format("noop").start()

    val ladder = Seq(1000L, 10000L, 50000L, 200000L, 800000L, 3200000L)
    val pipelines: Seq[(String, Long => StreamingQuery)] = Seq(
      "flagship_kv" -> flagshipKv,
      "sessions_fmgws" -> sessionsFmgws,
      "sessions_tws" -> sessionsTws)

    val results = pipelines.map { case (name, mk) =>
      var best = 0L
      var bestState = 0L
      var failedAt = -1L
      val it = ladder.iterator
      var stop = false
      while (it.hasNext && !stop) {
        val r = it.next()
        val q = mk(r)
        val (ok, lag, rps, stateRows) =
          try soak(q, soakSecs, maxLagSecs = 6L)
          catch { case e: Throwable =>
            try q.stop() catch { case _: Throwable => () }
            println(s"""{"pipeline":"$name","rate":$r,"error":"${
              e.getClass.getSimpleName}"}""")
            (false, Long.MaxValue, 0.0, 0L)
          }
        println(s"""{"pipeline":"$name","rate":$r,"sustained":$ok,""" +
          s""""backlog_secs":$lag,"processed_rps":${rps.round},""" +
          s""""state_rows":$stateRows}""")
        if (ok) { best = r; bestState = stateRows }
        else { failedAt = r; stop = true }
      }
      (name, best, failedAt, bestState)
    }
    val summary = results.map { case (n, best, failed, st) =>
      s""""$n":{"max_sustained_rps":$best,"first_unsustained":$failed,""" +
        s""""state_rows_at_max":$st}"""
    }.mkString("{\"metric\":\"stream_soak\",", ",", "}")
    println(summary)
    spark.stop()
  }
}
