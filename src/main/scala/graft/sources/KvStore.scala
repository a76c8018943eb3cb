package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** S8, for real: the online feature store as an actual embedded KV engine
  * (RocksDB, shipped in Spark's own jars) instead of the snapshot-parquet
  * model. The reference serves online features from Redis
  * (`feast_repo/feature_store.yaml:5-7`; materialized by
  * `airflow/dags/feature_store_materialization.py:214-239`, served per
  * `README.md:243`); the sandbox has no Redis, so the same contract —
  * upsert-newest-per-entity, point lookup by key, full-store snapshot —
  * runs against RocksDB through the identical code shape a Redis client
  * would use: one connection per task partition, pipelined upserts,
  * last-write-wins on (event_ts, tiebreak).
  *
  * Semantics contract (shared with [[graft.ops.Materialize.latestPerKey]]):
  * the store always holds, per entity key, exactly the row that
  * `ORDER BY ts DESC, tiebreak DESC` would rank first over everything ever
  * upserted. Last-write-wins on that order — NOT on arrival order — is
  * what makes the sink idempotent and replay-safe: re-applying any batch,
  * in any order, converges to the same store image (the exactly-once story
  * `foreachBatch` needs, same as the parquet-swap sink in
  * [[graft.streaming.Pipeline.onlineStoreSink]]).
  *
  * Scale posture, stated honestly: RocksDB here is EMBEDDED — a
  * single-node store reachable only inside this JVM. That is the correct
  * stand-in for local[32] (every task shares the one handle, so the
  * connection-per-partition write path is genuinely concurrent), and the
  * code shape retargets to a networked KV (Redis cluster) by swapping
  * [[open]]/put/get for a client pool — partition-parallel writes against
  * a shared store is exactly the production topology. Snapshot/lookup
  * reads iterate the store on the driver: bounded by ENTITY count (an
  * online store is entity-scale by construction — the reference's Redis
  * holds one hash per user), the same bound the Redis SCAN would have.
  *
  * Values are encoded EXACTLY: doubles as raw IEEE bits
  * (`doubleToLongBits`), never through decimal formatting — a
  * snapshot-read feature is bit-identical to the value that was upserted,
  * so oracle parity never hinges on float printing.
  */
object KvStore {

  import org.rocksdb.{Options, RocksDB}

  RocksDB.loadLibrary()

  /** One handle per path per JVM: RocksDB takes an exclusive lock on the
    * store directory, and its native handle is thread-safe for concurrent
    * put/get — so all 32 local tasks share the singleton, which is the
    * embedded analogue of a client pool to one Redis.
    */
  private val handles =
    scala.collection.concurrent.TrieMap.empty[String, RocksDB]

  private def open(path: String): RocksDB = handles.getOrElseUpdate(path, {
    new java.io.File(path).getParentFile.mkdirs()
    RocksDB.open(new Options().setCreateIfMissing(true), path)
  })

  /** Close and delete the store — registry-query cleanup. */
  def destroy(path: String): Unit = {
    handles.remove(path).foreach(_.close())
    RocksDB.destroyDB(path, new Options())
    ()
  }

  // ---- exact value codec ---------------------------------------------
  // record layout (\u0001-separated): tsMicros, tiebreak, f1, f2, ...
  // field encoding: "D<bits>" double, "S<utf8>" string, "L<long>" long,
  // "N" null. The schema (feature names + tags) lives under a reserved
  // key so the snapshot read is self-describing.
  private val Sep = '\u0001'
  private val SchemaKey = "\u0000__graft_schema".getBytes("UTF-8")

  private def fieldTag(dt: DataType): String = dt match {
    case DoubleType => "D"
    case StringType => "S"
    case LongType | IntegerType => "L"
    case other => throw new IllegalArgumentException(
      s"KvStore: unsupported feature type ${other.simpleString} " +
      "(supported: double, string, long/int)")
  }

  private def encodeField(tag: String, r: Row, i: Int): String =
    if (r.isNullAt(i)) "N"
    else tag match {
      case "D" => "D" + java.lang.Double.doubleToLongBits(r.getDouble(i))
      case "S" =>
        val s = r.getString(i)
        require(s.indexOf(Sep) < 0, "KvStore: string feature contains the " +
          "\\u0001 record separator")
        "S" + s
      case "L" => "L" + r.getLong(i)
    }

  private val TagType: Map[String, DataType] =
    Map("D" -> DoubleType, "S" -> StringType, "L" -> LongType)

  /** The stored (feature name, tag) pairs, in upsert order; fails with
    * `missing` when the store has no schema record. */
  private def featureSpec(db: RocksDB, missing: => String): Seq[(String, String)] = {
    val rec = db.get(SchemaKey)
    require(rec != null, missing)
    new String(rec, "UTF-8").split(Sep).toSeq
      .map { s => val Array(n, t) = s.split(':'); (n, t) }
  }

  private def decodeField(f: String): Any =
    if (f == "N") null
    else f.charAt(0) match {
      case 'D' => java.lang.Double.longBitsToDouble(f.substring(1).toLong)
      case 'S' => f.substring(1)
      case 'L' => f.substring(1).toLong
    }

  /** The write order: (ts, tiebreak) ahead of (ots, otb), or equal to
    * it — on an exact tie the later write wins. */
  private def supersedes(ts: Long, tb: Long, ots: Long, otb: Long): Boolean =
    ts > ots || (ts == ots && tb >= otb)

  /** A fixed stripe of per-key locks around the read-compare-put: the
    * embedded stand-in for an atomic compare-and-set script on Redis. */
  private val KeyLocks = Array.fill(64)(new Object)

  /** Upsert a batch of feature rows, keeping per entity the newest row by
    * (ts, tiebreak) across EVERYTHING ever written. One pass, no shuffle:
    * each task keeps its partition's newest row per key in a map, then
    * opens the shared store connection and, per key, reads the stored
    * row, compares and puts under the key's lock. Tasks of one batch can
    * hold the same key, so the lock is what keeps a concurrent older
    * row from overwriting a newer one; a hot key costs at most one
    * compare-and-put per partition. Cross-batch ordering is irrelevant
    * because the compare is on event time, not arrival.
    *
    * On an exact tie (equal ts and tiebreak) the later write wins, in a
    * partition and in the store: replaying a row rewrites it in place.
    * With a tiebreak unique per (key, ts), as required, ties are only
    * such replays, and the store equals
    * [[graft.ops.Materialize.latestPerKey]] of everything upserted.
    *
    * `tsCol` must be a timestamp (ntz ok, read under the UTC session);
    * `tiebreakCol` a long unique per (key, ts); features double/string/long.
    */
  def upsertLatest(batch: DataFrame, path: String, keyCol: String,
                   tsCol: String, tiebreakCol: String,
                   featureCols: Seq[String]): Unit = {
    require(featureCols.nonEmpty, "KvStore.upsertLatest: no feature columns")
    val tags = featureCols.map(c => fieldTag(batch.schema(c).dataType))
    val schemaRec = featureCols.zip(tags)
      .map { case (c, t) => s"$c:$t" }.mkString(Sep.toString)
    val db = open(path)                        // driver: create + lock early
    val prior = db.get(SchemaKey)
    if (prior == null) db.put(SchemaKey, schemaRec.getBytes("UTF-8"))
    else require(new String(prior, "UTF-8") == schemaRec,
      "KvStore.upsertLatest: feature schema mismatch with existing store")
    val rows = batch.select(col(keyCol).cast("string").as("__k"),
      unix_micros(col(tsCol).cast("timestamp")).as("__ts"),
      col(tiebreakCol).cast("long").as("__tb"),
      struct(featureCols.map(col): _*).as("__f"))
    val tagsB = tags
    rows.foreachPartition { (it: Iterator[Row]) =>
      val newest = new java.util.HashMap[String, Row]
      it.foreach { r =>
        val cur = newest.get(r.getString(0))
        if (cur == null || supersedes(r.getLong(1), r.getLong(2),
            cur.getLong(1), cur.getLong(2))) newest.put(r.getString(0), r)
      }
      val store = open(path)
      newest.forEach { (k, r) =>
        val key = k.getBytes("UTF-8")
        val ts = r.getLong(1); val tb = r.getLong(2)
        KeyLocks(Math.floorMod(k.hashCode, KeyLocks.length)).synchronized {
          val existing = store.get(key)
          if (existing == null || {
            val parts = new String(existing, "UTF-8").split(Sep)
            supersedes(ts, tb, parts(0).toLong, parts(1).toLong)
          }) {
            val f = r.getStruct(3)
            val fields = tagsB.indices.map(i => encodeField(tagsB(i), f, i))
            store.put(key,
              (s"$ts$Sep$tb$Sep" + fields.mkString(Sep.toString))
                .getBytes("UTF-8"))
          }
        }
      }
    }
  }

  /** The store's full image as a DataFrame: `entity_id`, `feature_ts`
    * (timestamp_ntz), `tiebreak`, then the feature columns in upsert
    * order. Driver-side store scan — entity-bounded (see scale posture
    * above); the result is a plain distributed frame after
    * `createDataFrame`.
    */
  def snapshot(spark: SparkSession, path: String): DataFrame = {
    val db = open(path)
    val featSpec = featureSpec(db, s"KvStore.snapshot: $path has no schema " +
      "record (store never written?)")
    val featFields = featSpec.map { case (n, t) => StructField(n, TagType(t)) }
    val schema = StructType(
      StructField("entity_id", StringType, nullable = false) +:
      StructField("feature_ts", TimestampNTZType, nullable = false) +:
      StructField("tiebreak", LongType, nullable = false) +: featFields)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    val it = db.newIterator()
    try {
      it.seekToFirst()
      while (it.isValid) {
        val key = new String(it.key(), "UTF-8")
        if (!key.startsWith("\u0000")) {
          val parts = new String(it.value(), "UTF-8").split(Sep)
          val ts = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(parts(0).toLong, 1000000L),
            (Math.floorMod(parts(0).toLong, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
          out += Row.fromSeq(key +: ts +: parts(1).toLong +:
            featSpec.indices.map(i => decodeField(parts(i + 2))))
        }
        it.next()
      }
    } finally it.close()
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** The serving-service primitive: raw store-layer batch read (get +
    * decode, NO Spark plan) — what an online inference service calls per
    * request (the reference serves Feast get_online_features → Redis this
    * way; its 1.14 ms average is exactly this path for a 3-key batch).
    * Returns one feature-value seq per requested key, field order =
    * stored schema order, all-null for missing keys. [[pointLookup]] is
    * the DataFrame integration of the same read for batch plans.
    */
  def getBatch(path: String, keys: Seq[String]): Seq[Seq[Any]] = {
    val db = open(path)
    val nFields = featureSpec(db, s"KvStore.getBatch: $path has no schema")
      .length
    keys.map { k =>
      val v = db.get(k.getBytes("UTF-8"))
      if (v == null) Seq.fill[Any](nFields)(null)
      else {
        val parts = new String(v, "UTF-8").split(Sep)
        (0 until nFields).map(i => decodeField(parts(i + 2)))
      }
    }
  }

  /** Online point lookup: append the stored features to a bounded request
    * frame, preserving request order and rows (missing entities surface
    * NULL features — the coverage-probe contract). The request set is the
    * serving batch (human/API-scale by construction, like
    * [[graft.ops.Retrieval.pointLookup]]'s probe side); each key is one
    * store `get`, the Redis MGET shape.
    */
  def pointLookup(requests: DataFrame, path: String,
                  keyCol: String): DataFrame = {
    val spark = requests.sparkSession
    val db = open(path)
    val featSpec =
      featureSpec(db, s"KvStore.pointLookup: $path has no schema")
    val reqRows = requests.collect()
    val ki = requests.schema.fieldIndex(keyCol)
    val rows = reqRows.map { r =>
      val v = if (r.isNullAt(ki)) null
        else db.get(String.valueOf(r.get(ki)).getBytes("UTF-8"))
      val feats: Seq[Any] =
        if (v == null) featSpec.map(_ => null)
        else {
          val parts = new String(v, "UTF-8").split(Sep)
          featSpec.indices.map(i => decodeField(parts(i + 2)))
        }
      Row.fromSeq(r.toSeq ++ feats)
    }
    val schema = StructType(requests.schema.fields ++ featSpec.map {
      case (n, t) => StructField(n, TagType(t))
    })
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Streaming materialization into the KV store: every micro-batch folds
    * through [[upsertLatest]]. Idempotent under foreachBatch's
    * at-least-once replay because the upsert compares event time, not
    * arrival — a re-delivered batch rewrites the same winners.
    */
  def streamingSink(features: DataFrame, path: String, checkpoint: String,
                    keyCol: String, tsCol: String, tiebreakCol: String,
                    featureCols: Seq[String]): DataStreamWriter[Row] =
    graft.streaming.Pipeline.foldSink(features, checkpoint) { (batch, _) =>
      upsertLatest(batch, path, keyCol, tsCol, tiebreakCol, featureCols)
    }
}
