package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming wrapper around the batch operators (SURVEY.md §2.1
  * S1/S5/S6 + §2.3 A1) — the reference's streaming pipeline
  * (`spark/apps/clickstream_aggregation.py:204-231`). The parse stage
  * (`Parse.parseEvents`) is shared verbatim with batch; the aggregation is
  * the streaming-safe projection of the flagship (see `streamingFeatures` —
  * exact distincts become HLL sketches, everything else is the same
  * expression). Batch ≡ stream for closed windows is asserted in the
  * MemoryStream smoke spec.
  *
  * Every `foreachBatch` sink here (and `KvStore.streamingSink`) is
  * [[foldSink]] around a public one-batch fold (`ingest*Batch`,
  * [[upsertSnapshot]], `KvStore.upsertLatest`), which callers can also
  * drive directly, without a trigger clock.
  *
  * The epoch-store contract, shared by the histogram, flagship, near-dup,
  * semantic, span, drift and vocab folds:
  *   - every store is partitioned by `ingest_batch`, the `foreachBatch`
  *     epoch id, and written only by [[writeEpoch]];
  *   - each write overwrites its epoch directory, `path/ingest_batch=<id>`,
  *     and leaves every other epoch (and the session conf) alone;
  *   - a probe reads only the other epochs ([[otherEpochs]]), so a
  *     replayed micro-batch never meets its first attempt's output;
  *   - every read goes through [[readStore]], which takes the schema from
  *     a data file's footer; `ingest_batch` reads as an int.
  * A replay therefore re-derives the same verdicts into the same
  * partitions, whatever point the first attempt crashed at.
  */
object Pipeline {

  /** The one sink skeleton: append mode, checkpointed at `checkpoint`,
    * each micro-batch handed to `fold` with its epoch id. */
  private[graft] def foldSink(df: DataFrame, checkpoint: String)(
      fold: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fold)

  /** Write `df` as epoch `batchId` of the store at `path`: an overwrite of
    * that epoch's directory only. */
  private def writeEpoch(df: DataFrame, batchId: Long, path: String): Unit =
    df.write.mode("overwrite").parquet(s"$path/ingest_batch=$batchId")

  /** Read a store this object wrote, with the Spark schema its writer put
    * in a data file's footer (`org.apache.spark.sql.parquet.row.metadata`)
    * instead of the schema-inference job `spark.read.parquet` runs. `_*`
    * and `.*` entries are skipped, as Spark's listing skips them. An epoch
    * store adds `ingest_batch`, typed as partition inference types it: an
    * int while every epoch id fits one, else a long.
    */
  private[graft] def readStore(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(dir: Path): Array[FileStatus] = fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val (epochs, files) = visible(root).partition(_.isDirectory)
    val dataFile = (files.iterator ++ epochs.iterator.flatMap(e =>
        visible(e.getPath).filter(_.isFile))).nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"Pipeline.readStore: no data file under $path"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        dataFile.getPath, conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    finally reader.close()
    require(json != null,
      s"Pipeline.readStore: ${dataFile.getPath} has no Spark schema")
    val data = DataType.fromJson(json).asInstanceOf[StructType]
    val schema =
      if (epochs.isEmpty) data
      else data.add("ingest_batch",
        if (epochs.forall(_.getPath.getName.stripPrefix("ingest_batch=")
          .toLong.isValidInt)) IntegerType else LongType)
    spark.read.schema(schema).parquet(path)
  }

  /** The store at `path` minus epoch `batchId`, projected to `empty`'s
    * columns; `empty` itself while the store does not exist yet. */
  private def otherEpochs(spark: SparkSession, path: String, batchId: Long,
                          empty: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      readStore(spark, path)
        .filter(col("ingest_batch") =!= batchId)
        .select(empty.columns.map(col): _*)
    else empty
  }

  /** The gates' tail: a non-empty batch goes to the admit or the
    * quarantine store, then the one-row `audit` record to `auditPath`. */
  private def routeAndAudit(batch: DataFrame, batchId: Long, nRows: Long,
                            admitted: Boolean, admitPath: String,
                            quarantinePath: String, audit: DataFrame,
                            auditPath: String): Unit = {
    if (nRows > 0)
      writeEpoch(batch, batchId, if (admitted) admitPath else quarantinePath)
    writeEpoch(audit, batchId, auditPath)
  }

  /** A1: event-time watermark bounding state (15 min in the reference,
    * `clickstream_aggregation.py:129`).
    */
  def withWatermark(events: DataFrame, tsCol: String,
                    delay: String = "15 minutes"): DataFrame =
    events.withWatermark(tsCol, delay)

  /** The streaming flagship: watermarked sliding-window aggregation over a
    * streaming events frame (from Kafka, rate source, file source, or
    * MemoryStream — the transform does not care).
    *
    * This is the streaming-SAFE projection of `WindowAgg.slidingFeatures`,
    * not a call to it: exact `countDistinct` is unsupported in streaming
    * aggregations, so the distinct column uses the mergeable HLL sketch
    * (`approx_count_distinct`) — the same 100 TB substitution documented in
    * SURVEY.md §7.2; the remaining aggregates are identical expressions.
    */
  def streamingFeatures(events: DataFrame): DataFrame = {
    // watermarks require TIMESTAMP (not NTZ); session is pinned UTC so the
    // cast is value-preserving
    val parsed = graft.ops.Parse.parseEvents(events)
      .withColumn("ts_parsed", col("ts_parsed").cast("timestamp"))
    val watermarked = parsed.withWatermark("ts_parsed", "15 minutes")
    watermarked
      .groupBy(col("user_id"), window(col("ts_parsed"), "1 hour", "10 minutes"))
      .agg(
        count(lit(1)).as("total_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("click_count"),
        approx_count_distinct(col("k")).as("unique_k_approx"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
          .as("total_revenue"))
      .select(col("user_id"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("total_events"),
        col("click_count"), col("unique_k_approx"), col("total_revenue"))
  }

  /** S5: date-partitioned parquet append sink with a processing-time
    * trigger (`clickstream_aggregation.py:204-218`).
    */
  def parquetSink(agg: DataFrame, path: String, checkpoint: String,
                  triggerInterval: String = "1 minute"): DataStreamWriter[Row] =
    agg
      .withColumn("event_date", to_date(col("window_start")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_date")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerInterval))

  /** S6: console debug sink, update mode
    * (`clickstream_aggregation.py:221-231`).
    */
  def consoleSink(agg: DataFrame,
                  triggerInterval: String = "30 seconds"): DataStreamWriter[Row] =
    agg.writeStream.format("console").outputMode("update")
      .trigger(Trigger.ProcessingTime(triggerInterval))

  /** Watermarked stream-stream interval join: each probe-stream row pairs
    * with feature-stream rows of the same key whose timestamp falls in
    * (probe_ts − lookback, probe_ts]. Both sides carry watermarks and the
    * join condition bounds both event times, so Spark can expire state —
    * the streaming analogue of the as-of join's TTL (state per key is
    * bounded by lookback + watermark delay, the 100 TB-stream requirement).
    * Column names must be disjoint across the two sides.
    */
  def streamStreamJoin(probes: DataFrame, probeTs: String, probeKey: String,
                       feats: DataFrame, featTs: String, featKey: String,
                       lookback: String = "1 hour",
                       delay: String = "15 minutes"): DataFrame = {
    val l = probes.withColumn(probeTs, col(probeTs).cast("timestamp"))
      .withWatermark(probeTs, delay)
    val r = feats.withColumn(featTs, col(featTs).cast("timestamp"))
      .withWatermark(featTs, delay)
    l.join(r, expr(
      s"$probeKey = $featKey AND " +
      s"$featTs > $probeTs - INTERVAL $lookback AND $featTs <= $probeTs"))
  }

  /** Streaming online-store materialization: `foreachBatch` folds every
    * micro-batch into a latest-per-key parquet snapshot (write-new,
    * atomic-swap). Idempotent by construction — replaying a micro-batch
    * re-derives the same snapshot, which is exactly the exactly-once story
    * foreachBatch needs. Production would target Redis (the reference's
    * online store, `feature_store_materialization.py`) or a Delta MERGE;
    * the fold/swap semantics are identical.
    */
  def onlineStoreSink(features: DataFrame, storePath: String,
                      checkpoint: String, keyCol: String, tsCol: String,
                      tiebreakCol: String): DataStreamWriter[Row] =
    foldSink(features, checkpoint) { (batch, _) =>
      upsertSnapshot(batch, storePath, keyCol, tsCol, tiebreakCol)
    }

  /** The reference platform's core loop (`feature_store_materialization
    * .py:214-239`: offline aggregate → latest-per-key → online store,
    * scheduled daily) collapsed into ONE CONTINUOUS streaming job: raw
    * events → watermarked sliding-window features
    * ([[streamingFeatures]]) → LWW upsert of every closed window row
    * into the embedded KV store, keyed by user with the window END as
    * the event time (so the freshest closed window always wins — the
    * online row IS the latest materialized feature vector, no daily
    * cron, no recompute). Checkpointed and idempotent under
    * foreachBatch's at-least-once replay (the upsert compares event
    * time, not arrival); killed and resumed, the store converges to the
    * batch `latestPerKey` fold over the same rows (StreamingSmokeSpec).
    */
  def materializeLoopSink(events: DataFrame, storePath: String,
                          checkpoint: String): DataStreamWriter[Row] =
    graft.sources.KvStore.streamingSink(streamingFeatures(events), storePath,
      checkpoint, "user_id", "window_end", "window_start",
      Seq("total_events", "click_count", "unique_k_approx", "total_revenue"))

  /** Streaming maintenance of the mergeable histogram store
    * ([[graft.ops.Sketches.dailyHistogramStore]]): each micro-batch's
    * per-(day, bin) counts land in its own epoch of an epoch store (see
    * [[Pipeline]]), so a replayed micro-batch cannot double-count. The
    * read side ([[histogramStore]]) sums across epochs; quantile readouts
    * then run [[graft.ops.Sketches.rollupQuantiles]] over it. Net effect:
    * a live stream keeps a KB-sized structure from which any period's
    * quantiles are answerable without re-reading events.
    */
  def histogramStoreSink(events: DataFrame, tsCol: String, valCol: String,
                         lo: Double, hi: Double, nBins: Int,
                         storePath: String,
                         checkpoint: String): DataStreamWriter[Row] =
    foldSink(events, checkpoint)(ingestHistogramBatch(_, _, tsCol, valCol,
      lo, hi, nBins, storePath))

  def ingestHistogramBatch(batch: DataFrame, batchId: Long, tsCol: String,
                           valCol: String, lo: Double, hi: Double,
                           nBins: Int, storePath: String): Unit =
    writeEpoch(graft.ops.Sketches.dailyHistogramStore(batch, tsCol, valCol,
      lo, hi, nBins), batchId, storePath)

  /** Read side of [[histogramStoreSink]]: fold the epoch partitions to the
    * canonical (day, bin, cnt) store. */
  def histogramStore(spark: SparkSession, storePath: String): DataFrame =
    readStore(spark, storePath)
      .groupBy(col("day"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Streaming leg of the flagship aggregate-table architecture: each
    * micro-batch of PARSED events folds to its mergeable hourly partials
    * ([[graft.ops.WindowAgg.hourlyPartials]] — sums/counts/mins + HLL
    * sketch) and lands in its own epoch of an epoch store (see
    * [[Pipeline]]), so a replayed batch cannot double-count. The
    * read side merges epochs and finalizes — the LIVE flagship table
    * without ever re-aggregating raw history, and without streaming-
    * aggregation state: watermark bookkeeping is traded for idempotent
    * epoch folds, which is the right trade when the serving store IS the
    * state.
    */
  def flagshipPartialsSink(parsedEvents: DataFrame, storePath: String,
                           checkpoint: String): DataStreamWriter[Row] =
    foldSink(parsedEvents, checkpoint)(ingestFlagshipBatch(_, _, storePath))

  def ingestFlagshipBatch(batch: DataFrame, batchId: Long,
                          storePath: String): Unit =
    writeEpoch(graft.ops.WindowAgg.hourlyPartials(batch), batchId, storePath)

  /** Read side of [[flagshipPartialsSink]]: merge all epochs' partials
    * and finalize into the flagship serving schema. */
  def flagshipFromStore(spark: SparkSession, storePath: String): DataFrame =
    graft.ops.WindowAgg.finalizeHourly(
      graft.ops.WindowAgg.mergeHourlyPartials(
        readStore(spark, storePath).drop("ingest_batch")))

  /** S8×S9 fused: streaming materialization INTO the real JDBC registry —
    * the reference's airflow flow (`feature_store_materialization.py:
    * 214-239`: materialize the view, then record its freshness) as one
    * `foreachBatch`. Every micro-batch (a) folds into the latest-per-key
    * snapshot via [[upsertSnapshot]] (crash-safe retire/promote swap) and
    * (b) publishes the A13 freshness aggregate of the POST-fold snapshot
    * — `(view, last_updated_us, row_count, value_sum)` — through
    * `spark.write.jdbc` into the registry's `feature_freshness` table.
    *
    * Publishing from the post-fold STORE state (not the raw batch) makes
    * the registry row a pure function of the snapshot: a replayed
    * micro-batch re-derives the identical snapshot and therefore the
    * identical registry row — the same idempotence story as
    * [[upsertSnapshot]] itself, extended across both stores. The
    * registry write is one row per view (overwrite), so the JDBC hop is
    * metadata-sized at any corpus scale.
    */
  def registryMaterializeSink(features: DataFrame, storePath: String,
                              checkpoint: String, keyCol: String,
                              tsCol: String, tiebreakCol: String,
                              viewName: String, jdbcUrl: String,
                              table: String = "feature_freshness"): DataStreamWriter[Row] =
    foldSink(features, checkpoint) { (batch, _) =>
      upsertSnapshot(batch, storePath, keyCol, tsCol, tiebreakCol)
      val snap = readStore(batch.sparkSession, storePath)
        .withColumn("view_name", lit(viewName))
        .withColumn("ts_us", unix_micros(col(tsCol).cast("timestamp")))
      graft.sources.JdbcRegistry.publishFreshness(
        snap, "view_name", "ts_us", tiebreakCol, jdbcUrl, table)
      ()
    }

  /** One fold of [[onlineStoreSink]]: merge a batch into the snapshot at
    * `storePath` keeping the newest row per key, then swap via
    * retire-then-promote renames. A crash can leave the live path missing
    * only AFTER the previous snapshot was renamed to `.old` — the read
    * side falls back to `.old`, so no crash point loses data (the naive
    * delete-then-rename would replay the batch against an EMPTY store and
    * silently drop every previously materialized key). Rename failures
    * throw instead of passing silently.
    */
  def upsertSnapshot(batch: DataFrame, storePath: String, keyCol: String,
                     tsCol: String, tiebreakCol: String): Unit = {
    val spark = batch.sparkSession
    import org.apache.hadoop.fs.Path
    val live = new Path(storePath)
    val old = new Path(storePath + ".old")
    val swap = new Path(storePath + ".swap")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: live missing but .old present ⇒ previous fold died
    // between retire and promote — the retired snapshot is authoritative
    val base =
      if (fs.exists(live)) readStore(spark, storePath)
      else if (fs.exists(old)) readStore(spark, storePath + ".old")
      else batch.limit(0)
    val merged = graft.ops.Materialize.latestPerKey(
      base.unionByName(batch), keyCol, tsCol, tiebreakCol)
    merged.write.mode("overwrite").parquet(storePath + ".swap")
    fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"retire failed: $live -> $old")
    if (!fs.rename(swap, live))
      throw new java.io.IOException(s"promote failed: $swap -> $live")
    fs.delete(old, true)
  }

  /** Streaming near-dup ingest gate — the incremental-LSH corpus admission
    * rule ([[graft.ops.Dedup.minHashNearDupsIncremental]]) as a live
    * `foreachBatch` sink: every micro-batch of documents probes the
    * ACCUMULATED MinHash signature store, admitted (non-dup) docs land in
    * the corpus store, and the batch's signatures append to the signature
    * store — corpus text is scanned once, on arrival, never re-read. This
    * is the streaming form of the training-data ingest front door: what
    * reaches the corpus is exactly what the batch near-dup run would have
    * kept (the equivalence DedupSpec proves for the batch rule carries
    * over batch-by-batch). Both stores are epoch stores (see
    * [[Pipeline]]).
    */
  def nearDupIngestSink(docs: DataFrame, idCol: String, textCol: String,
                        sigPath: String, corpusPath: String,
                        checkpoint: String, n: Int = 3, numHashes: Int = 16,
                        bands: Int = 4,
                        threshold: Double = 0.5): DataStreamWriter[Row] =
    foldSink(docs, checkpoint)(ingestNearDupBatch(_, _, idCol, textCol,
      sigPath, corpusPath, n, numHashes, bands, threshold))

  /** One fold of [[nearDupIngestSink]]: probe, admit, write this epoch. */
  def ingestNearDupBatch(batch: DataFrame, batchId: Long, idCol: String,
                         textCol: String, sigPath: String,
                         corpusPath: String, n: Int, numHashes: Int,
                         bands: Int, threshold: Double): Unit = {
    // empty frame with the signature schema doubles as the first-batch seen
    val emptySigs = graft.ops.Dedup.minHashSignatures(
      batch.limit(0), idCol, textCol, n, numHashes)
    val seen = otherEpochs(batch.sparkSession, sigPath, batchId, emptySigs)
    val verdicts = graft.ops.Dedup.minHashNearDupsIncremental(
      seen, batch, idCol, textCol, n, numHashes, bands, threshold)
    val admitted = batch.join(
      verdicts.filter(!col("is_dup")).select(col("id").as(idCol)), Seq(idCol))
    // admitted docs FIRST (their plan probes the pre-write store), the
    // batch signatures second — a crash between the two replays cleanly
    // because the probe excludes this epoch's partition either way
    writeEpoch(admitted, batchId, corpusPath)
    writeEpoch(graft.ops.Dedup.minHashSignatures(batch, idCol, textCol, n,
      numHashes), batchId, sigPath)
  }

  /** Streaming SEMANTIC ingest gate — [[graft.ops.Similarity.semDedup]]'s
    * admission rule as a live `foreachBatch` sink, the embedding twin of
    * [[nearDupIngestSink]]: each micro-batch of (id, vector) rows is
    * cell-assigned via the broadcast codebook, probed against the
    * ACCUMULATED store within its cell only (cost ∝ batch × cell-mates,
    * never batch × corpus), and a row is admitted iff no prior vector and
    * no senior batch-mate in its cell sits at or above cosine `tau`.
    *
    * The store keeps EVERY arriving vector with its `admitted` verdict —
    * not just survivors — because the batch drop rule keys on seniority,
    * not survival: a vector whose senior match was itself dropped must
    * still be dropped, so dropped seniors must stay probe-able (the same
    * reasoning behind the signature store keeping all batch signatures,
    * DedupSpec's dropped-seen-partners case). With id-ordered arrival this
    * makes the gate verdict-identical to running batch `semDedup` over
    * everything seen so far — SimilaritySpec proves the equivalence. The
    * store is an epoch store (see [[Pipeline]]).
    */
  def semDedupIngestSink(vecs: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[Array[Double]], storePath: String,
                         checkpoint: String,
                         tau: Double): DataStreamWriter[Row] =
    foldSink(vecs, checkpoint)(ingestSemDedupBatch(_, _, idCol, vecCol,
      centroids, storePath, tau))

  /** One fold of [[semDedupIngestSink]]: assign, probe, admit, write this
    * epoch. */
  def ingestSemDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                          vecCol: String, centroids: Array[Array[Double]],
                          storePath: String, tau: Double): Unit = {
    val cos = graft.ops.Similarity.cosine _
    val assigned = batch.select(
      col(idCol), col(vecCol).cast("array<double>").as("v"),
      graft.functions.Native.nearest_centroid(
        col(vecCol).cast("array<double>"), centroids).as("cell"))
    val seen = otherEpochs(batch.sparkSession, storePath, batchId,
      assigned.limit(0))
    val dupVsSeen = assigned.alias("b")
      .join(seen.select(col("cell"), col("v").as("sv")), Seq("cell"))
      .filter(round(cos(col("v"), col("sv")), 6) >= tau)
      .select(col(idCol))
    val dupInBatch = assigned.alias("x")
      .join(assigned.select(col(idCol).as("__senior"), col("cell"),
        col("v").as("xv")), Seq("cell"))
      .filter(col("__senior") < col(idCol) &&
        round(cos(col("v"), col("xv")), 6) >= tau)
      .select(col(idCol))
    val dropped = dupVsSeen.unionByName(dupInBatch).distinct()
      .withColumn("__dup", lit(true))
    val verdicts = assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("v"), col("cell"),
        col("__dup").isNull.as("admitted"))
    writeEpoch(verdicts, batchId, storePath)
  }

  /** Streaming SPAN-dedup ingest gate — the winnowing twin of
    * [[nearDupIngestSink]]: each micro-batch of documents is
    * fingerprinted with the native winnow expression
    * ([[graft.ops.TextAnalysis.winnowGrams]]) and a document is admitted
    * iff NONE of its fingerprinted k-grams appears in the accumulated
    * store or belongs to a senior (lower-id) batch-mate — the
    * keep-first-occurrence rule for duplicated SPANS (any shared run of
    * k+w−1 chars is guaranteed a shared fingerprint, the winnowing
    * coverage theorem). With id-ordered arrival this is verdict-identical
    * to the one-shot batch rule "kept iff this doc is the min-id holder
    * of every one of its grams" — StreamingSmokeSpec proves the
    * equivalence across a kill/resume.
    *
    * The store keeps EVERY batch document's fingerprints (admitted or
    * not): the first occurrence wins even when the first occurrence was
    * itself dropped for an earlier match — the same dropped-seniors
    * reasoning as the LSH and SemDeDup gates. Probe cost is
    * batch-fingerprints × store matches on the gram key — an equi-join,
    * never batch × corpus. Both stores are epoch stores (see
    * [[Pipeline]]).
    */
  def spanDedupIngestSink(docs: DataFrame, idCol: String, textCol: String,
                          fpPath: String, corpusPath: String,
                          checkpoint: String, k: Int = 32,
                          w: Int = 16): DataStreamWriter[Row] =
    foldSink(docs, checkpoint)(ingestSpanDedupBatch(_, _, idCol, textCol,
      fpPath, corpusPath, k, w))

  /** One fold of [[spanDedupIngestSink]]: fingerprint, probe, admit,
    * write this epoch.
    */
  def ingestSpanDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                           textCol: String, fpPath: String,
                           corpusPath: String, k: Int, w: Int): Unit = {
    val fps = graft.ops.TextAnalysis.winnowGrams(batch, idCol, textCol, k, w)
    val seen = otherEpochs(batch.sparkSession, fpPath, batchId,
      fps.limit(0).select(col("gram")))
    val hitStore = fps
      .join(seen.distinct(), Seq("gram"), "left_semi")
      .select(col("doc_id"))
    val seniorMin = fps.groupBy("gram").agg(min(col("doc_id")).as("__min"))
    val hitSenior = fps.join(seniorMin, Seq("gram"))
      .filter(col("__min") < col("doc_id"))
      .select(col("doc_id"))
    val dropped = hitStore.unionByName(hitSenior).distinct()
    val admitted = batch.join(
      dropped.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
    // admitted corpus first (its plan probes the pre-write store), the
    // batch fingerprints second — a crash between the two replays
    // cleanly because the probe excludes this epoch's partition
    writeEpoch(admitted, batchId, corpusPath)
    writeEpoch(fps, batchId, fpPath)
  }

  /** Streaming data-quality monitor: the SAME declarative expectations the
    * batch report runs (`ops.Quality`), evaluated as per-window violation
    * counts over a watermarked stream — quality drift becomes a windowed
    * time series instead of a nightly batch report. One streaming
    * aggregation; state is one row per (window), since every expectation
    * compiles to a `sum(when(violation))` column.
    */
  def streamingQualityMonitor(events: DataFrame, tsCol: String,
                              checks: Seq[graft.ops.Quality.Expectation],
                              windowLen: String = "1 hour",
                              delay: String = "15 minutes"): DataFrame = {
    val watermarked = events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, delay)
    val aggs = graft.ops.Quality.windowedAggs(checks)
    watermarked
      .groupBy(window(col(tsCol), windowLen))
      .agg(aggs.head, aggs.tail: _*)
      .select(graft.ops.Quality.windowedSelect(checks): _*)
  }

  /** Streaming drift monitor — the reference's batch-scheduled drift
    * loop (`scripts/drift_detection.py:171-225`) lifted to a LIVE
    * windowed job (round-9 verdict item 5). Split design, one
    * definition of every numeric step shared with the batch twin
    * [[graft.ops.Drift.sweepVsRef]]:
    *
    *   1. bin edges are FROZEN from the reference sample
    *      ([[graft.ops.Drift.refBounds]], computed batch-side once and
    *      broadcast — a stream can't take a second pass for bounds);
    *   2. THIS stage: the live stream melts to (feature, v), joins the
    *      broadcast bounds (stream-static, stateless), and counts per
    *      (event-time window, feature, clamped bin) — a standard
    *      incremental windowed aggregation with watermark + append
    *      mode, state bounded by windows·features·bins;
    *   3. each finalized window's histogram meets the reference
    *      histogram in [[graft.ops.Drift.ksFromHistograms]] (inside
    *      `foreachBatch`, or batch over the landed sink) — a join of
    *      two ≤ features·bins frames, never data-sized.
    *
    * Checkpoint/resume comes from the engine (the KvStore/rate-source
    * precedent); StreamingSmokeSpec asserts closed windows ≡ the batch
    * sweep on the same rows.
    */
  def streamingDriftHistogram(stream: DataFrame, tsCol: String,
                              bounds: DataFrame, features: Seq[String],
                              windowLen: String = "1 hour",
                              delay: String = "15 minutes",
                              bins: Int = 1000): DataFrame = {
    val melted = graft.ops.Drift.meltKeep(
      stream.withColumn(tsCol, col(tsCol).cast("timestamp")),
      Seq(tsCol), features)
    val clean = graft.ops.Drift.cleanSamples(melted, "v")
      .withWatermark(tsCol, delay)
    graft.ops.Drift.binAgainstBounds(clean, bounds, bins)
      .groupBy(window(col(tsCol), windowLen), col("feature"), col("bin"))
      .agg(count(lit(1)).as("ca"))
      .select(col("window.start").as("window_start"), col("feature"),
        col("bin"), col("ca"))
  }

  /** Stream-static enrichment: the serving-path J4 — a live event stream
    * LEFT-joined against a static (or periodically reloaded) broadcast
    * dimension. No state, no watermark needed (stream-static joins are
    * stateless row-at-a-time); the static side re-resolves per micro-batch
    * so swapping the snapshot under the same path picks up new dimension
    * rows without restarting the query.
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
                         key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming heavy hitters: per event-time window, the keys whose count
    * reaches `minCount` — the hot-domain/hot-entity alarm as a LIVE
    * windowed aggregation rather than a nightly batch sweep
    * (`ops.Frequency.heavyHitters` is the corpus-scale batch twin). State
    * is one row per (window, distinct key in window); for key spaces too
    * wide for that, run the batch Misra-Gries form over landed
    * micro-batches instead. The threshold filter sits on the aggregate,
    * so append mode emits only finalized windows' hitters.
    */
  def streamingHeavyHitters(events: DataFrame, tsCol: String,
                            keyCol: String, minCount: Long,
                            windowLen: String = "1 hour",
                            delay: String = "15 minutes"): DataFrame =
    events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("window.start").as("window_start"), col(keyCol),
        col("cnt"))

  /** S1 (production shape): Kafka source — documented for parity; tests use
    * MemoryStream (no broker in this environment).
    * {{{
    * spark.readStream.format("kafka")
    *   .option("kafka.bootstrap.servers", servers)
    *   .option("subscribe", "user_clicks")
    *   .option("startingOffsets", "latest")
    *   .option("failOnDataLoss", "false").load()
    * }}}
    */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("failOnDataLoss", "false")
      .load()

  /** G7's stand-in made real: the reference's rate-limited stream
    * generator (`scripts/stream_generator.py:233-269`) synthesizes
    * clickstream events at a fixed rate; `rate-micro-batch` is Spark's
    * broker-free equivalent, and DETERMINISTIC — batch b carries the
    * contiguous values [b·rowsPerBatch, (b+1)·rowsPerBatch). Event
    * fields (including EVENT TIME) derive purely from the sequence
    * value, never from the source's wall-clock column, so replaying the
    * same value range as a batch frame ([[syntheticEvents]] over
    * `spark.range`) is the exact parity oracle for the streaming run —
    * the closed-window agreement RateSourceSpec pins.
    */
  def rateSource(spark: SparkSession, rowsPerBatch: Int,
                 numPartitions: Int = 4): DataFrame =
    syntheticEvents(spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", numPartitions)
      .load())

  /** The shared value→event projection behind [[rateSource]]: one
    * deterministic narrow select, usable on any frame with a `value`
    * long column (the rate source's own schema, or `spark.range` for
    * the batch twin). Event time marches one minute per value from a
    * fixed epoch, so watermarks advance and windows close on a schedule
    * that is a pure function of how many rows have been consumed.
    */
  def syntheticEvents(raw: DataFrame): DataFrame = {
    val v = col("value")
    raw.select(
      v.as("event_id"),
      // 2024-03-01 00:00:00 UTC + one minute per value
      timestamp_seconds(lit(1709251200L) + v * 60L).as("ts"),
      (v % 7L).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("cart")),
        (v % 4L).cast("int") + 1).as("event_type"),
      (v % 100L).cast("double").as("value"),
      concat(lit("{\"k\":\"k"), (v % 13L).cast("string"), lit("\"}"))
        .as("props"))
  }

  /** Drift circuit-breaker ingest gate — the data-quality pattern that
    * keeps a poisoned upstream batch out of the training corpus: each
    * micro-batch's value distribution is scored with PSI against a FIXED
    * reference histogram (edges + shares fitted offline, e.g. from
    * [[graft.ops.Drift.psi]]'s reference deciles); a batch over the
    * threshold is QUARANTINED wholesale (written to its own store for
    * forensics, never admitted), and every batch leaves a one-row audit
    * record (n, psi, verdict). NULL and NaN values are not scored (as in
    * `Drift.psi`) but count in `n_rows`; a batch with no scorable value
    * is quarantined. Batch-level, not row-level, deliberately:
    * distribution shift is a property of the batch, and row-level
    * clipping would silently reshape the distribution instead of
    * flagging it.
    *
    * All three stores are epoch stores (see [[Pipeline]]), and the PSI
    * decision is a pure function of the batch and the constant reference,
    * so a replayed epoch rewrites itself identically. The per-batch
    * driver action is ONE 1-row aggregate (`head`) — the decision
    * scalar; everything else is a narrow binned count.
    */
  def driftGateSink(events: DataFrame, valCol: String,
                    edges: Array[Double], refShares: Array[Double],
                    threshold: Double, admitPath: String,
                    quarantinePath: String, auditPath: String,
                    checkpoint: String): DataStreamWriter[Row] = {
    require(edges.nonEmpty && edges.sameElements(edges.sorted),
      "driftGateSink: edges must be ascending")
    require(refShares.length == edges.length + 1,
      s"driftGateSink: need ${edges.length + 1} reference shares")
    require(math.abs(refShares.sum - 1.0) < 1e-9,
      "driftGateSink: reference shares must sum to 1")
    foldSink(events, checkpoint)(ingestDriftGateBatch(_, _, valCol, edges,
      refShares, threshold, admitPath, quarantinePath, auditPath))
  }

  /** Token-level twin of [[driftGateSink]]: every micro-batch of
    * DOCUMENTS is scored by smoothed Jensen–Shannon divergence (bits)
    * between its token distribution and a declared REFERENCE distribution
    * over a fixed vocabulary (+ implicit `<other>` mass), then routed to
    * the admit or quarantine store with a per-batch audit row — the
    * ingest gate that catches a crawler suddenly feeding a different
    * language, boilerplate flood, or spam template, which numeric-column
    * gates never see. The reference is the bounded artifact
    * `TextAnalysis.vocabDrift` elects offline (top-V by count + tail).
    */
  def vocabGateSink(docs: DataFrame, textCol: String,
                    refVocab: Seq[(String, Double)], alpha: Double,
                    threshold: Double, admitPath: String,
                    quarantinePath: String, auditPath: String,
                    checkpoint: String): DataStreamWriter[Row] = {
    require(refVocab.nonEmpty, "vocabGateSink: empty reference vocabulary")
    require(refVocab.map(_._2).forall(_ >= 0) && refVocab.map(_._2).sum <= 1.0 + 1e-9,
      "vocabGateSink: reference shares must be non-negative and sum <= 1")
    require(alpha > 0, s"vocabGateSink: alpha > 0 (got $alpha)")
    foldSink(docs, checkpoint)(ingestVocabGateBatch(_, _, textCol, refVocab,
      alpha, threshold, admitPath, quarantinePath, auditPath))
  }

  /** One fold of [[vocabGateSink]]: tokenize, fold counts onto the
    * reference grid (+ `<other>`), smoothed JS, route, audit.
    */
  def ingestVocabGateBatch(batch: DataFrame, batchId: Long, textCol: String,
                           refVocab: Seq[(String, Double)], alpha: Double,
                           threshold: Double, admitPath: String,
                           quarantinePath: String, auditPath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val otherP = math.max(0.0, 1.0 - refVocab.map(_._2).sum)
    val grid = (refVocab :+ ("<other>", otherP)).toDF("term", "p")
    val toks = batch
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val known = toks.join(broadcast(grid.select("term")), Seq("term"),
      "left_semi").groupBy("term").agg(count(lit(1)).as("n"))
    val other = toks.join(broadcast(grid.select("term")), Seq("term"),
        "left_anti")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n"))
      .select(lit("<other>").as("term"), col("n"))
    val counts = known.unionByName(other)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    val v = refVocab.size + 1
    val scored = grid.join(counts, Seq("term"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("__nTot", sum(col("n")).over(tot))
      .withColumn("q",
        (col("n") + lit(alpha)) / (col("__nTot") + lit(alpha * v)))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .withColumn("contribution",
        (when(col("p") > 0,
          lit(0.5) * col("p") * log(col("p") / col("m"))).otherwise(0.0) +
          lit(0.5) * col("q") * log(col("q") / col("m"))) / log(lit(2.0)))
    val row = scored
      .agg(round(sum(col("contribution")), 6).as("js"),
        max(col("__nTot")).as("n_tokens"))
      .head()
    val js = row.getDouble(0)
    val nToks = row.getLong(1)
    val nDocs = batch.count()
    val admitted = nToks > 0 && js <= threshold
    routeAndAudit(batch, batchId, nDocs, admitted, admitPath, quarantinePath,
      Seq((nDocs, nToks, js, admitted))
        .toDF("n_docs", "n_tokens", "js", "admitted"), auditPath)
  }

  /** One fold of [[driftGateSink]]: bin, score, route, audit. */
  def ingestDriftGateBatch(batch: DataFrame, batchId: Long, valCol: String,
                           edges: Array[Double], refShares: Array[Double],
                           threshold: Double, admitPath: String,
                           quarantinePath: String,
                           auditPath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val bins = refShares.length
    val v = col(valCol)
    // NULL and NaN are not scored (Drift.cleanSamples' rule): they fall in
    // a NULL bin, which matches no grid bin but still counts as a row
    val binOf = when(v.isNotNull && !isnan(v),
      edges.map(e => when(v > e, 1).otherwise(0)).reduce(_ + _))
    val counts = batch.select(binOf.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    // densify over the full grid: a missing bin is q = 0, and the
    // epsilon-free convention (p>0 AND q>0 contribute) then skips it —
    // identical to Drift.psi
    val grid = (0 until bins).map(i => (i, refShares(i))).toDF("bin", "p")
    val scored = grid.join(counts, Seq("bin"), "full")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    val psiRow = scored
      .withColumn("__scored",
        sum(when(col("p").isNotNull, col("n"))).over(tot))
      .withColumn("q", when(col("__scored") > 0,
        col("n").cast("double") / col("__scored")).otherwise(0.0))
      .withColumn("contribution",
        when(col("p") > 0 && col("q") > 0,
          (col("p") - col("q")) * log(col("p") / col("q"))).otherwise(0.0))
      .agg(round(sum(col("contribution")), 6).as("psi"),
        sum(col("n")).as("n_rows"), max(col("__scored")).as("n_scored"))
      .head()
    val psi = psiRow.getDouble(0)
    val nRows = psiRow.getLong(1)
    // a batch with no scorable value is quarantined wholesale
    val admitted = psiRow.getLong(2) > 0 && psi <= threshold
    routeAndAudit(batch, batchId, nRows, admitted, admitPath, quarantinePath,
      Seq((nRows, psi, admitted)).toDF("n_rows", "psi", "admitted"),
      auditPath)
  }
}
