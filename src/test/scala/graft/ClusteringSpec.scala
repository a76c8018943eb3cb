package graft

import graft.ops.Clustering

/** Lloyd k-means golden case on a hand-traceable corpus. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  test("kmeans: two well-separated groups converge to their means; " +
      "cluster ids are the seed vector ids; distances are exact") {
    // seeds are ids 0 and 1; after two updates the centroids settle at
    // 0.1 and 10.1 on the x-axis
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.0f)),
      (2L, Array(0.2f, 0.0f)), (3L, Array(10.0f, 0.0f)),
      (4L, Array(10.1f, 0.0f)), (5L, Array(10.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Clustering.kmeans(emb, "vec_id", "embedding",
        k = 2, iterations = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert((0L to 2L).forall(out(_)._2 == 0L))
    assert((3L to 5L).forall(out(_)._2 == 1L))
    // centroid x ≈ 0.1 / 10.1 (float inputs widen exactly enough that
    // round-6 lands on the clean values)
    assert(out(1L)._3 == 0.0)
    assert(out(0L)._3 == out(2L)._3 && out(0L)._3 > 0.009 &&
      out(0L)._3 < 0.011)
    assert(out(4L)._3 < 1e-6 && out(3L)._3 > 0.009)
  }

  test("clusterPurity: clusters that recover the labels score purity 1 " +
      "and NMI 1; labels orthogonal to structure score near 0") {
    import spark.implicits._
    // two well-separated blobs; ids 0 and 1 (the k=2 seeds) land in
    // different blobs, so Lloyd recovers them exactly
    val rows = (0L until 8L).map { id =>
      val blob = (id % 2).toInt
      (id, Array(if (blob == 0) 10.0f else 0.0f,
        if (blob == 0) 0.0f else 10.0f), blob)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val r = graft.ops.Clustering.clusterPurity(df, "vec_id", "embedding",
      "label", k = 2, iterations = 3).collect().head
    assert(r.getAs[Long]("n") == 8L && r.getAs[Int]("n_clusters") == 2)
    assert(r.getAs[Double]("purity") == 1.0)
    assert(r.getAs[Double]("nmi") == 1.0)
    // same blobs, labels split WITHIN each blob: clusters say nothing
    val noise = rows.map { case (id, v, _) => (id, v, (id % 4 < 2)) }
      .toDF("vec_id", "embedding", "label")
    val n = graft.ops.Clustering.clusterPurity(noise, "vec_id",
      "embedding", "label", k = 2, iterations = 3).collect().head
    assert(n.getAs[Double]("nmi") < 0.01)
  }

  test("diverseSample: every cell contributes up to its quota and the " +
      "pick is the seeded hash order") {
    import spark.implicits._
    // blob 0: ids 0,2,4,6; blob 1: ids 1,3,5,7 (seeds 0 and 1 separate)
    val rows = (0L until 8L).map { id =>
      val blob = (id % 2).toInt
      (id, Array(if (blob == 0) 10.0f else 0.0f,
        if (blob == 0) 0.0f else 10.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = graft.ops.Clustering.diverseSample(df, "vec_id",
      "embedding", k = 2, iterations = 3, perCell = 2).collect()
    assert(out.length == 4) // 2 cells x quota 2
    val byCell = out.groupBy(_.getAs[Long]("cluster"))
    assert(byCell.size == 2 && byCell.values.forall(_.length == 2))
    // picks replay the channel-131 hash order with id tiebreak
    val M = 2147483647L
    def u01(key: Long): Double = {
      val h1 = (key + 131L * 1000003L) % M
      ((h1 * 48271L % M) * 48271L % M + 1).toDouble / M
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    byCell.foreach { case (_, picks) =>
      val ids = picks.sortBy(_.getAs[Int]("pick_rank"))
        .map(_.getAs[Long]("vec_id")).toList
      val cellIds = rows.map(_._1)
        .filter(id => (id % 2) == (ids.head % 2))
      val expect = cellIds.sortBy(id => (r6(u01(id)), id)).take(2).toList
      assert(ids == expect, s"cell picks $ids vs $expect")
    }
  }

  test("gridDensityClusters: adjacent dense cells merge, the isolated " +
      "dense cell stands alone, sparse cells pool into the -1 noise row") {
    def v(x: Float, y: Float) = Array(x, y, 0.0f)
    val emb = Seq(
      // dense cell (0,0) and dense cell (1,0) — 8-adjacent, one cluster
      v(0.5f, 0.5f), v(0.4f, 0.4f), v(1.5f, 0.2f), v(1.2f, 0.8f),
      // isolated dense cell (5,5)
      v(5.5f, 5.5f), v(5.2f, 5.1f),
      // two sparse singles: cell (9,0) and the NEGATIVE cell (-1,-1)
      v(9.5f, 0.3f), v(-0.5f, -0.5f)
    ).zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("vec_id", "embedding")
    val r = Clustering.gridDensityClusters(emb, "embedding",
      eps = 1.0, minPts = 2).collect()
    assert(r.length == 3)
    val noise = r(0)
    assert(noise.getAs[Long]("cluster_id") == -1L)
    assert(noise.getAs[Long]("n_cells") == 2L)
    assert(noise.getAs[Long]("n_points") == 2L)
    // component labels are the min cell encoding: cell (0,0) for the
    // merged pair, cell (5,5) for the singleton
    val a = r(1)
    assert(a.getAs[Long]("cluster_id") == 500000L * 2000000L + 500000L)
    assert(a.getAs[Long]("n_cells") == 2L && a.getAs[Long]("n_points") == 4L)
    val b = r(2)
    assert(b.getAs[Long]("cluster_id") == 500005L * 2000000L + 500005L)
    assert(b.getAs[Long]("n_cells") == 1L && b.getAs[Long]("n_points") == 2L)
  }

  test("reliable-checkpoint parity: kmeans identical via Ckpt.cut(dir)") {
    val dir = tempDir("graft-ckpt")
    val emb = Seq(
      (0L, Array(0.0, 0.1)), (1L, Array(0.1, 0.0)), (2L, Array(0.05, 0.05)),
      (3L, Array(5.0, 5.1)), (4L, Array(5.1, 5.0)), (5L, Array(5.05, 5.05)))
      .toDF("vec_id", "embedding")
    val local = Clustering.kmeans(emb, "vec_id", "embedding", k = 2,
      iterations = 5).collect().toSeq
    val rel = Clustering.kmeans(emb, "vec_id", "embedding", k = 2,
      iterations = 5, checkpointDir = Some(dir)).collect().toSeq
    assert(local == rel)
  }
}
