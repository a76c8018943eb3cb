package graft

import graft.ops.Graph
import org.apache.spark.sql.functions.lit

/** PageRank golden cases on hand-solvable graphs. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: one-iteration values match the closed form, dangling " +
      "mass redistributes, 2-cycle stays uniform, mass is conserved") {
    // a <-> b, a -> c; c has out-degree 0 (dangling)
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val one = Graph.pageRank(g, "src", "dst", iterations = 1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // init 1/3 each; dangling mass = c's 1/3; contributions: a <- b/1,
    // b <- a/2, c <- a/2
    def step(in: Double) = BigDecimal(0.15 / 3 + 0.85 * (in + (1.0 / 3) / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(one(1L)._2 == 2L && one(2L)._2 == 1L && one(3L)._2 == 0L)
    assert(one(1L)._3 == step(1.0 / 3))
    assert(one(2L)._3 == step(1.0 / 6))
    assert(one(3L)._3 == step(1.0 / 6))
    // mass conservation after several steps
    val five = Graph.pageRank(g, "src", "dst", iterations = 5)
      .as[(Long, Long, Double)].collect()
    assert(math.abs(five.map(_._3).sum - 1.0) < 1e-4)
    // pure 2-cycle: uniform forever
    val cyc = Graph.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
        "src", "dst", iterations = 3)
      .as[(Long, Long, Double)].collect()
    assert(cyc.length == 2 && cyc.forall(_._3 == 0.5))
  }
  test("pageRank: an empty edge set gives an empty (node, out_deg, " +
      "pagerank) frame on the driver path and the distributed loop") {
    val want = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
      iterations = 1).schema.map(f => f.name -> f.dataType)
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (pr <- Seq(Graph.pageRank(empty, "src", "dst", iterations = 3),
        Graph.pageRank(empty, "src", "dst", iterations = 3,
          driverEdgeBudget = 0L))) {
      assert(pr.schema.map(f => f.name -> f.dataType) == want)
      assert(pr.collect().isEmpty)
    }
  }
  test("triangleCounts: triangle corners counted once each, pendant " +
      "scores zero, coefficients match the closed form, direction and " +
      "duplicate edges collapse") {
    // triangle {1,2,3} plus pendant 4 on node 1; edges given in mixed
    // directions with a duplicate
    val g = Seq((1L, 2L), (3L, 2L), (1L, 3L), (4L, 1L), (2L, 1L))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(g, "src", "dst")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 1L, 0.333333)))
    assert(out(2L) == ((2L, 2L, 1L, 1.0)))
    assert(out(3L) == ((3L, 2L, 1L, 1.0)))
    assert(out(4L) == ((4L, 1L, 0L, 0.0)))
  }
  test("linkPrediction: only non-edges scored, closed-form Adamic-Adar " +
      "and Jaccard, minCommon filters, reversed duplicate edges collapse") {
    // triangle {1,2,3} + 4 attached to {2,3} + pendant 5 on 1; one edge
    // duplicated reversed. Non-edges with a common neighbor: (1,4) via
    // {2,3}, (2,5) and (3,5) via {1}.
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("src", "dst")
    val out = Graph.linkPrediction(g, "src", "dst", minCommon = 1)
      .as[(Long, Long, Long, Double, Double)].collect()
    // deg: 1->3, 2->3, 3->3, 4->2, 5->1; lattice term 1/ln3 = 0.910239
    val t3 = math.round(1e6 / math.log(3.0)) / 1e6
    assert(out.toSeq == Seq(
      (1L, 4L, 2L, 2 * t3, 0.666667), // 2/(3+2-2)
      (2L, 5L, 1L, t3, 0.333333), // 1/(3+1-1)
      (3L, 5L, 1L, t3, 0.333333)))
    // minCommon=2 keeps only the two-wedge pair
    val strict = Graph.linkPrediction(g, "src", "dst", minCommon = 2)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(strict.toSeq == Seq((1L, 4L, 2L, 2 * t3, 0.666667)))
  }
  test("harmonicCentrality: path-graph closed form, multi-seed terms " +
      "add on the lattice, seeds exclude themselves, direction respected") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val one = Graph.harmonicCentrality(path, "src", "dst",
        Seq(1L).toDF("s"), "s", rounds = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!one.contains(1L)) // d=0 to itself only
    assert(one(2L) == ((2L, 1L, 1.0)))
    assert(one(3L) == ((3L, 1L, 0.5)))
    assert(one(4L) == ((4L, 1L, 0.333333)))
    val two = Graph.harmonicCentrality(path, "src", "dst",
        Seq(1L, 3L).toDF("s"), "s", rounds = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(two(4L) == ((4L, 2L, 1.333333))) // 1/3 from seed 1 + 1 from 3
    assert(two(2L) == ((2L, 1L, 1.0))) // 3 cannot reach 2 (directed)
  }

  test("guards fire loud: oversized basket and hub degree raise in-plan") {
    val fat = (1 to 30).map(i => (1L, i.toLong)).toDF("bk", "it")
    val e1 = intercept[Exception] {
      graft.ops.Frequency.basketRules(fat, "bk", "it",
        minPairSupport = 1, k = 5, maxBasketSize = 10).collect()
    }
    assert(e1.getMessage.contains("basket over 10 items"))
    // star hub 1 with 12 spokes
    val star = (2L to 13L).map(v => (1L, v)).toDF("src", "dst")
    val e2 = intercept[Exception] {
      graft.ops.Graph.triangleCounts(star, "src", "dst", maxDegree = 10)
        .collect()
    }
    assert(e2.getMessage.contains("exceeds degree 10"))
    // at-the-limit graphs pass
    assert(graft.ops.Graph.triangleCounts(star, "src", "dst",
      maxDegree = 12).count() == 13)
  }

  test("kCore: peels periphery in dependency order, keeps the clique") {
    // K4 clique {1,2,3,4} + a chain 4-5-6: node 6 peels in round 1
    // (deg 1 < 2), node 5 only BECOMES sub-core after 6 is gone —
    // the cascading dependency a single degree filter misses
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val r1 = graft.ops.Graph.kCore(edges, "src", "dst", k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1.keySet == Set(1L, 2L, 3L, 4L, 5L)) // 5 survives round 1
    val r2 = graft.ops.Graph.kCore(edges, "src", "dst", k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2.keySet == Set(1L, 2L, 3L, 4L))     // ...but not round 2
    assert(r2.values.forall(_ == 3L))            // residual clique degrees
    // converged: further rounds change nothing
    val r3 = graft.ops.Graph.kCore(edges, "src", "dst", k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(r3 == r2)
    // k above the clique degree empties the graph
    assert(graft.ops.Graph.kCore(edges, "src", "dst", k = 4, rounds = 3)
      .count() == 0)
    // direction/duplicate insensitivity: reversed + duplicated edges
    val noisy = edges.unionByName(
      edges.select($"dst".as("src"), $"src".as("dst")))
    val rn = graft.ops.Graph.kCore(noisy, "src", "dst", k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(rn == r2)
  }

  test("bfsHops: hop distances from a seed set, direction respected, " +
      "unreached nodes absent, multi-seed min wins") {
    // directed chain 1→2→3→4→5 plus shortcut 1→4 and back-edge 3→1;
    // node 9 unreachable from {1}
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (3L, 1L),
      (8L, 9L)).toDF("src", "dst")
    val seed1 = Seq(1L).toDF("s")
    val d = graft.ops.Graph.bfsHops(g, "src", "dst", seed1, "s", rounds = 4)
      .as[(Long, Long)].collect().toMap
    // shortest paths: 1:0, 2:1, 3:2, 4:1 (shortcut beats chain), 5:2
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
    // bounded rounds: with 1 round only the direct frontier is reached
    val d1 = graft.ops.Graph.bfsHops(g, "src", "dst", seed1, "s", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(d1 == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    // multi-seed: distance is the MIN over seeds; seed 8 reaches 9
    val d2 = graft.ops.Graph.bfsHops(g, "src", "dst",
        Seq(1L, 8L).toDF("s"), "s", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(d2(9L) == 1L && d2(5L) == 2L && d2(8L) == 0L)
    // a seed not in the graph stays at hop 0 and nothing else changes
    val d3 = graft.ops.Graph.bfsHops(g, "src", "dst",
        Seq(1L, 77L).toDF("s"), "s", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(d3(77L) == 0L && (d3 - 77L) == d)
  }
  test("hits: lattice supersteps match the hand-run recursion on a " +
      "two-hub/two-authority graph; pure sinks and sources score zero " +
      "on the opposite side") {
    // hubs {1,2} -> authorities {3,4}: 1->3, 1->4, 2->3
    val g = Seq((1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.hits(g, "src", "dst", iterations = 2)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // hand-run on the 1e-9 lattice: step1 a=(2/3, 1/3) -> h=(0.6, 0.4);
    // step2 a raw=(1e9, 6e8) -> a=(0.625, 0.375); h raw=(1e9, 625e6)
    // -> h=(615384615, 384615385) on the lattice
    assert(out(3L) == ((3L, 0.625, 0.0)))
    assert(out(4L) == ((4L, 0.375, 0.0)))
    assert(out(1L) == ((1L, 0.0, 0.615385)))
    assert(out(2L) == ((2L, 0.0, 0.384615)))
  }
  test("degreeAssortativity: perfect star is -1, single edge is " +
      "undefined (null), mixed directions and duplicates collapse") {
    val star = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 1L))
      .toDF("src", "dst")
    val r = Graph.degreeAssortativity(star, "src", "dst")
      .as[(Long, Double, Option[Double])].collect().head
    assert(r == ((3L, 2.0, Some(-1.0))))
    val edge = Graph.degreeAssortativity(
        Seq((1L, 2L)).toDF("src", "dst"), "src", "dst")
      .as[(Long, Double, Option[Double])].collect().head
    assert(edge == ((1L, 1.0, None)))
  }
  test("modularity: two labeled triangles joined by one bridge match " +
      "the closed form; a random-graph-like single community scores 0") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "B")).toDF("node", "community")
    val out = Graph.modularity(g, "src", "dst", lab, "node", "community")
      .as[(String, Long, Long, Double, Double)].collect()
    // m=7, e_A=e_B=3, d_A=d_B=7: term = 3/7 - (7/14)^2 = 0.178571,
    // Q = 0.357143 on the 1e-12 lattice
    assert(out.toSeq == Seq(("A", 3L, 7L, 0.178571, 0.357143),
      ("B", 3L, 7L, 0.178571, 0.357143)))
    // everything in one community: Q = m/m - (2m/2m)^2 = 0
    val one = Graph.modularity(g, "src", "dst",
        lab.withColumn("community", lit("all")), "node", "community")
      .as[(String, Long, Long, Double, Double)].collect()
    assert(one.toSeq == Seq(("all", 7L, 14L, 0.0, 0.0)))
  }

  test("reliable-checkpoint parity: pageRank and hits produce identical " +
      "results via Ckpt.cut(dir) as via localCheckpoint") {
    val dir = tempDir("graft-ckpt")
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val prLocal = Graph.pageRank(g, "src", "dst", iterations = 5)
      .collect().toSeq
    val prRel = Graph.pageRank(g, "src", "dst", iterations = 5,
      checkpointDir = Some(dir)).collect().toSeq
    assert(prLocal == prRel)
    val hLocal = Graph.hits(g, "src", "dst", iterations = 3)
      .collect().toSeq
    val hRel = Graph.hits(g, "src", "dst", iterations = 3,
      checkpointDir = Some(dir)).collect().toSeq
    assert(hLocal == hRel)
  }

  test("labelPropagation: disjoint triangles converge to their min id; " +
      "a star 2-cycles deterministically at fixed rounds") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val out = Graph.labelPropagation(tri, "src", "dst", rounds = 4)
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("community"), r.getAs[Long]("community_size")))
      .toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == (1L, 3L)))
    assert(Seq(10L, 11L, 12L).forall(out(_) == (10L, 3L)))
    // star 20-(21,22,23): sync LPA 2-cycles center<->leaves; at even
    // rounds the center holds 20 and the leaves hold 21 (min leaf)
    val star = Seq((20L, 21L), (20L, 22L), (20L, 23L)).toDF("src", "dst")
    val s = Graph.labelPropagation(star, "src", "dst", rounds = 4)
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("community"), r.getAs[Long]("community_size")))
      .toMap
    assert(s(20L) == (20L, 1L))
    assert(Seq(21L, 22L, 23L).forall(s(_) == (21L, 3L)))
    // reliable-checkpoint path is bit-identical
    val dir = tempDir("lpa_ckpt")
    val rel = Graph.labelPropagation(tri, "src", "dst", rounds = 4,
      checkpointDir = Some(dir)).collect().toSeq
    val loc = Graph.labelPropagation(tri, "src", "dst", rounds = 4)
      .collect().toSeq
    assert(rel == loc)
  }

  test("driver fast paths ≡ distributed supersteps (driverEdgeBudget = 0 " +
      "forces the loop): hits, labelPropagation, harmonicCentrality on a " +
      "randomized directed graph") {
    import spark.implicits._
    // deterministic pseudo-random digraph: 40 nodes, 300 directed edges
    // with hubs, cycles, sinks, sources, and a self-loop-free mix
    val edges = (0 until 300).map { g =>
      val a = (g * 7919 % 40).toLong
      val b = ((g * 104729 + 17) % 40).toLong
      if (a == b) (a, (b + 1) % 40) else (a, b)
    }.toDF("src", "dst")
    val seeds = (0L until 40L by 7L).toDF("seed")

    val hFast = Graph.hits(edges, "src", "dst", iterations = 4)
      .collect().toSeq
    val hDist = Graph.hits(edges, "src", "dst", iterations = 4,
      driverEdgeBudget = 0L).collect().toSeq
    assert(hFast == hDist && hFast.nonEmpty)

    // round 13: pageRank joined the lattice-fast-path family
    val pFast = Graph.pageRank(edges, "src", "dst", iterations = 4)
      .collect().toSeq
    val pDist = Graph.pageRank(edges, "src", "dst", iterations = 4,
      driverEdgeBudget = 0L).collect().toSeq
    assert(pFast == pDist && pFast.nonEmpty)

    val lFast = Graph.labelPropagation(edges, "src", "dst", rounds = 4)
      .collect().toSeq
    val lDist = Graph.labelPropagation(edges, "src", "dst", rounds = 4,
      driverEdgeBudget = 0L).collect().toSeq
    assert(lFast == lDist && lFast.nonEmpty)

    // presymmetrized ≡ default: hand-symmetrize (both orientations,
    // no self-loops, distinct — exactly the Shared.coOrderEdges shape)
    // and assert the skip-the-resymmetrize path lands on the same
    // communities, on BOTH the driver fast path and the forced loop
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .filter($"src" =!= $"dst").distinct()
    val lPre = Graph.labelPropagation(sym, "src", "dst", rounds = 4,
      presymmetrized = true).collect().toSeq
    assert(lPre == lFast)
    val lPreDist = Graph.labelPropagation(sym, "src", "dst", rounds = 4,
      driverEdgeBudget = 0L, presymmetrized = true).collect().toSeq
    assert(lPreDist == lFast)

    val cFast = Graph.harmonicCentrality(edges, "src", "dst",
      seeds, "seed", rounds = 3).collect().toSeq
    val cDist = Graph.harmonicCentrality(edges, "src", "dst",
      seeds, "seed", rounds = 3, driverEdgeBudget = 0L).collect().toSeq
    assert(cFast == cDist && cFast.nonEmpty)

    // round 13: bfsHops joined the family (seed 99 is absent from the
    // graph — both paths must still emit its hops-0 row)
    val bSeeds = seeds.union(Seq(99L).toDF("seed"))
    val bFast = Graph.bfsHops(edges, "src", "dst", bSeeds, "seed",
      rounds = 3).collect().toSeq
    val bDist = Graph.bfsHops(edges, "src", "dst", bSeeds, "seed",
      rounds = 3, driverEdgeBudget = 0L).collect().toSeq
    assert(bFast == bDist && bFast.nonEmpty)
    assert(bFast.exists(r => r.getLong(0) == 99L && r.getLong(1) == 0L))
  }
}
