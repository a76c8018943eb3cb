package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Range-clustered sorted layout: disjoint per-file key spans (the property
  * that makes parquet min/max stats skip whole files under range
  * predicates) and filter pushdown on the read-back path.
  */
class LayoutSpec extends SparkSpec {

  test("sorted layout writes disjoint per-file key ranges") {
    val df = Tables.events(spark, sfDir).select("event_id", "ts", "value")
    val root = Sources.sortedLayoutWrite(df, "ts", 4)
    val files = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length == 4)
    val spans = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("ts")), max(col("ts"))).head()
      (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
    }.sortBy(_._1)
    // every file's span ends before the next file's begins — zone-map layout
    spans.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(!hi.isAfter(lo2))
      case _ =>
    }
  }

  test("z-order layout bounds per-file spans on BOTH dimensions") {
    val df = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value").na.drop(Seq("value"))
    def spans(root: String, c: String): Array[Double] = {
      val files = new java.io.File(root).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      val r = df.agg(min(col(c).cast("double")),
        max(col(c).cast("double"))).head()
      val full = r.getDouble(1) - r.getDouble(0)
      files.map { f =>
        val s = spark.read.parquet(f).agg(min(col(c).cast("double")),
          max(col(c).cast("double"))).head()
        (s.getDouble(1) - s.getDouble(0)) / full
      }
    }
    val zRoot = Sources.zorderLayoutWrite(df, "user_id", "value", 8)
    val aRoot = Sources.sortedLayoutWrite(df, "user_id", 8)
    def mean(a: Array[Double]) = a.sum / a.length
    // single-column sort: user_id spans tight, value spans ~full range
    // (mean < 1.0 only because the global max is a tail outlier)
    assert(mean(spans(aRoot, "value")) > 0.5,
      "unexpected: value already clustered under user_id sort")
    // z-order: BOTH dims bounded — value strictly better than the
    // single-column layout, user_id well under the full range
    assert(mean(spans(zRoot, "value")) < 0.8 * mean(spans(aRoot, "value")),
      s"value spans not improved: ${spans(zRoot, "value").toSeq}")
    assert(mean(spans(zRoot, "user_id")) < 0.75,
      s"user_id spans unbounded: ${spans(zRoot, "user_id").toSeq}")
    // content is unchanged by the layout rewrite
    val back = spark.read.parquet(zRoot)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("compaction bounds file count without changing content") {
    val df = Tables.events(spark, sfDir).select("event_id", "value")
    val scattered = tempDir("graft_scatter_")
    df.repartition(16).write.mode("overwrite").parquet(scattered)
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(scattered) == 16)
    val compacted = Sources.compact(spark, scattered, 2)
    assert(files(compacted) <= 2)
    val a = spark.read.parquet(compacted)
    assert(a.exceptAll(df).isEmpty && df.exceptAll(a).isEmpty)
  }

  test("read-back range predicate is pushed to the parquet scan") {
    val df = Tables.events(spark, sfDir).select("event_id", "ts", "value")
    val root = Sources.sortedLayoutWrite(df, "ts", 4)
    val q = spark.read.parquet(root)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp_ntz"))
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(ts"), scan.take(500))
    // and the filtered read agrees with the in-memory filter
    val expected = df
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp_ntz")).count()
    assert(q.count() == expected)
  }

  test("ANN index layout: one partition per cell, probe read is " +
      "partition-pruned, pruning never changes results") {
    val emb = Tables.embeddings(spark, sfDir)
    val seeds = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val root = Sources.annIndexWrite(emb, "vec_id", "embedding", seeds)
    // hive layout: cell=N directories, one per assigned cell
    val cellDirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.forall(_.matches("cell=\\d+")))
    // the probe's IN-predicate reaches the scan as a PartitionFilter
    val probed = spark.read.parquet(root).filter(col("cell").isin(0, 1))
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("cell#"),
      scan.take(500))
    // pruned search ≡ unpruned search restricted to the same cells
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"),
        graft.functions.Native.nearest_centroid(
          col("embedding").cast("array<double>"), seeds).as("cell"))
    val all = spark.read.parquet(root)
    import spark.implicits._
    def run(cand: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.topKIvf(queries, cand, "vec_id", "embedding",
          "cell", 3)
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toList
    val probeCells = queries.select("cell").distinct()
      .collect().map(_.getInt(0))
    assert(run(all.filter(col("cell").isin(probeCells.map(Int.box): _*)))
      == run(all))
  }

  test("quantile z-order keeps resolution on a heavy-tailed dimension") {
    import spark.implicits._
    // value ~ exponential with one huge outlier: min/max scaling collapses
    // the bulk into bucket 0 on that dim
    val rows = (1 to 4000).map { i =>
      val u = ((i * 2654435761L) % 4000).toDouble / 4000.0
      (i.toLong, (i % 200).toLong, math.expm1(8 * u))
    }
    val df = rows.toDF("id", "k", "v")
    def rankCoverage(root: String): Double = {
      val sorted = rows.map(_._3).sorted
      def rank(x: Double) = {
        val i = java.util.Arrays.binarySearch(sorted.toArray, x)
        (if (i >= 0) i else -i - 1).toDouble / sorted.size
      }
      val files = new java.io.File(root).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      val fr = files.map { f =>
        val r = spark.read.parquet(f).agg(min($"v"), max($"v")).head()
        rank(r.getDouble(1)) - rank(r.getDouble(0))
      }
      fr.sum / fr.length
    }
    val qRoot = Sources.zorderLayoutWriteQuantile(df, "k", "v", 8)
    val mRoot = Sources.zorderLayoutWrite(df, "k", "v", 8)
    // rank coverage = fraction of the value DISTRIBUTION a file spans;
    // quantile bucketing must beat min/max scaling on skewed data
    assert(rankCoverage(qRoot) < rankCoverage(mRoot),
      s"quantile ${rankCoverage(qRoot)} vs minmax ${rankCoverage(mRoot)}")
    assert(rankCoverage(qRoot) < 0.7)
    // layout rewrite preserves content
    val back = spark.read.parquet(qRoot).select("id", "k", "v")
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("parquetFooter: value counts reconcile per column, compressed " +
      "never exceeds uncompressed, directories and bare files both read") {
    import spark.implicits._
    val dir = tempDir("graft_footer_")
    (1L to 1000L).map(i => (i, s"name_$i", i * 1.5))
      .toDF("id", "name", "v").coalesce(2)
      .write.mode("overwrite").parquet(dir)
    val out = Sources.parquetFooter(spark, dir)
      .as[(String, Long, String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // every column's value counts sum to the row count
    val perCol = out.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
    assert(perCol == Map("id" -> 1000L, "name" -> 1000L, "v" -> 1000L))
    assert(out.forall(r => r._5 <= r._6), "compressed <= uncompressed")
    assert(out.forall(r => r._1.endsWith(".parquet") && r._2 >= 0))
    // a single bare file reads the same way
    val one = out.map(_._1).distinct.sorted.head
    val single = Sources.parquetFooter(spark, s"$dir/$one")
      .as[(String, Long, String, Long, Long, Long)].collect()
    assert(single.map(_._3).distinct.sorted.toSeq ==
      Seq("id", "name", "v"))
  }

  test("compression audit via footers: zstd beats snappy on repetitive " +
      "text, codec choice never changes logical contents") {
    import spark.implicits._
    // highly repetitive text column — the case where codec choice matters
    val df = (1L to 2000L)
      .map(i => (i, ("the quick brown fox " * 10) + (i % 7)))
      .toDF("id", "txt")
    def writeWith(codec: String): String = {
      val d = tempDir(s"graft_codec_${codec}_")
      df.coalesce(1).write.mode("overwrite")
        .option("compression", codec).parquet(d)
      d
    }
    val (snappyDir, zstdDir) = (writeWith("snappy"), writeWith("zstd"))
    def txtBytes(dir: String): Long = Sources.parquetFooter(spark, dir)
      .filter($"column_name" === "txt")
      .agg(org.apache.spark.sql.functions.sum($"compressed_bytes"))
      .head().getLong(0)
    assert(txtBytes(zstdDir) < txtBytes(snappyDir),
      s"zstd ${txtBytes(zstdDir)} vs snappy ${txtBytes(snappyDir)}")
    // logical contents identical either way
    val back = spark.read.parquet(zstdDir)
    assert(back.exceptAll(spark.read.parquet(snappyDir)).isEmpty)
  }
}
