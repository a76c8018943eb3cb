package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — PageRank as the reference
  * shape (connected components live in [[Dedup]]). One superstep = one
  * equi-join of the edge list against the current rank vector plus one
  * keyed aggregation — the Pregel pattern expressed declaratively, with
  * Catalyst free to pick shuffle-hash vs broadcast per superstep.
  *
  * Scale posture: the rank vector is one row per NODE (orders of
  * magnitude below the edge list); each superstep shuffles contributions
  * on the destination key with map-side partial sums. Lineage is
  * truncated per superstep with `localCheckpoint` exactly like the
  * [[Dedup]] label-propagation loop (swap `checkpoint` on a cluster).
  */
object Graph {

  /** Damped PageRank over a DIRECTED edge list for a fixed number of
    * supersteps (fixed iteration count keeps the result deterministic and
    * engine-replayable — no float-tolerance convergence test). Dangling
    * nodes (out-degree 0) redistribute their mass uniformly each step,
    * the standard stochastic-matrix completion, so total rank stays 1.
    *
    * For an undirected graph, pass both edge directions.
    *
    * `checkpointDir` switches superstep lineage truncation from
    * `localCheckpoint` (executor-storage-pinned, not fault-tolerant —
    * the edge list stays resident for the whole run) to reliable
    * `checkpoint` under the given path — see [[Ckpt.cut]] for the
    * memory/fault-tolerance budget at 100 TB.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               checkpointDir: Option[String] = None,
               driverEdgeBudget: Long = 2000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"pageRank: iterations in [1, 50] (got $iterations)")
    require(damping > 0.0 && damping < 1.0,
      s"pageRank: damping in (0, 1) (got $damping)")
    // round 13: the recursion runs on the 1e-9 INTEGER lattice (the
    // hits shape — re-oracled with the full DuckDB-replay discipline):
    // ranks are longs in 1e-9 units, every per-edge share and damping
    // product is an exact half-up integer division, so the fold order
    // cannot move a bit — which is what makes the under-budget driver
    // fast path below parity-safe (the old double recursion summed
    // contributions in engine-dependent order and was deliberately left
    // distributed in round 12 for exactly that reason).
    val dNum = math.round(damping * 100).toInt
    require(math.abs(damping * 100 - dNum) < 1e-9,
      s"pageRank: damping must be a multiple of 0.01 for the exact " +
        s"integer recursion (got $damping)")
    // lazy checkpoints: both materialize during the single deg.count()
    // action below instead of paying one eager pass each
    val e = Ckpt.cut(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct(), checkpointDir)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val deg = Ckpt.cut(nodes.join(
        e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg")),
      checkpointDir)
    val nN = deg.count() // bounded: one long, drives the 1/N literals
    // no edges, no nodes: an empty ranking (1/N is undefined)
    if (nN == 0L) return latticeRankOut(deg.withColumn("rank", lit(0L)))
    // half-up integer division a/b for a >= 0, b > 0: (2a + b) div 2b
    def halfUp(a: Long, b: Long): Long =
      ((BigInt(a) * 2 + b) / (BigInt(b) * 2)).toLong
    val r0 = halfUp(1000000000L, nN)                  // 1e9/N
    val base = halfUp((100L - dNum) * 1000000000L, 100L * nN) // (1-d)/N
    // cost-based fast path (the hits/labelPropagation posture): under
    // the budget one collect + the exact lattice recursion in driver
    // integer math replaces 4 jobs per iteration. GraphSpec pins
    // fast ≡ distributed at driverEdgeBudget = 0.
    if (e.count() <= driverEdgeBudget)
      return pageRankDriver(e, deg, iterations, dNum, nN, r0, base)
    var pr = deg.withColumn("rank", lit(r0))
    for (_ <- 1 to iterations) {
      val dangling = pr.filter(col("out_deg") === 0)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("__dm"))
      // per-edge share = half-up(rank / out_deg); src nodes have
      // out_deg >= 1 by construction, so the division is safe
      val contribs = e
        .join(pr.select(col("node").as("src"), col("rank"), col("out_deg")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(2 * rank + out_deg) div (2 * out_deg)")).as("__in"))
      pr = Ckpt.cut(deg
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .withColumn("rank",
          lit(base) + expr(s"(2 * $dNum * (coalesce(__in, 0L) + " +
            s"((2 * __dm + $nN) div ${2 * nN})) + 100) div 200"))
        .select(col("node"), col("out_deg"), col("rank")),
        checkpointDir)
    }
    latticeRankOut(pr)
  }

  /** Final projection shared by both pageRank paths: 1e-9-lattice rank
    * half-up-rounded to the 1e-6 output lattice (the hits readout). */
  private def latticeRankOut(pr: DataFrame): DataFrame =
    pr.select(col("node"), col("out_deg"),
        expr("CAST((rank * 2 + 1000) div 2000 AS BIGINT)")
          .cast("double")./(lit(1e6)).as("pagerank"))
      .orderBy("node")

  /** [[pageRank]]'s under-budget path: the identical lattice recursion
    * from ONE collect of the distinct edge list — pure integer sums
    * (overflow-checked), so parity with the distributed supersteps is
    * exact. GraphSpec pins fast ≡ distributed via
    * `driverEdgeBudget = 0`.
    */
  private def pageRankDriver(e: DataFrame, deg: DataFrame,
                             iterations: Int, dNum: Int, nN: Long,
                             r0: Long, base: Long): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val degRows = deg.select(col("node"), col("out_deg")).collect()
    val nodes = degRows.map(_.getLong(0)).sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val outDeg = new Array[Long](n)
    degRows.foreach(r => outDeg(idx(r.getLong(0))) = r.getLong(1))
    val edgeRows = e.select(col("src"), col("dst")).collect()
    val srcI = new Array[Int](edgeRows.length)
    val dstI = new Array[Int](edgeRows.length)
    var k = 0
    while (k < edgeRows.length) {
      srcI(k) = idx(edgeRows(k).getLong(0))
      dstI(k) = idx(edgeRows(k).getLong(1))
      k += 1
    }
    def halfUp(a: Long, b: Long): Long =
      ((BigInt(a) * 2 + b) / (BigInt(b) * 2)).toLong
    var rank = Array.fill(n)(r0)
    for (_ <- 1 to iterations) {
      var dm = 0L
      var i = 0
      while (i < n) {
        if (outDeg(i) == 0L) dm = Math.addExact(dm, rank(i))
        i += 1
      }
      val sh = halfUp(dm, nN)
      val inflow = new Array[Long](n)
      k = 0
      while (k < srcI.length) {
        val s = srcI(k)
        inflow(dstI(k)) = Math.addExact(inflow(dstI(k)),
          halfUp(rank(s), outDeg(s)))
        k += 1
      }
      val next = new Array[Long](n)
      i = 0
      while (i < n) {
        next(i) = Math.addExact(base,
          halfUp(Math.multiplyExact(dNum.toLong,
            Math.addExact(inflow(i), sh)), 100L))
        i += 1
      }
      rank = next
    }
    latticeRankOut(
      (0 until n).map(i => (nodes(i), outDeg(i), rank(i)))
        .toDF("node", "out_deg", "rank"))
  }

  /** Synchronous label-propagation community detection over an
    * UNDIRECTED graph: every node starts as its own community and each
    * superstep adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label — fully deterministic, unlike
    * the classic randomized-order LPA. Runs a FIXED number of rounds
    * (convergence is not required and sync LPA can 2-cycle on
    * bipartite structures — star centers/leaves swap forever; the
    * fixed-round output is still a deterministic function of the
    * graph, which is what an oracle-checked engine needs). The
    * communities this PRODUCES are exactly what [[modularity]] grades.
    *
    * Plan: per superstep, one keyed join (edges ⋈ labels), one
    * (node,label) count aggregation, one per-node window over the
    * label-count frame (bounded by the node's distinct neighbor
    * labels ≤ degree). Lineage cut per superstep via [[Ckpt.cut]] —
    * `checkpointDir` switches executor-pinned localCheckpoint to
    * reliable checkpoints for the 1000-executor posture.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int,
                       checkpointDir: Option[String] = None,
                       driverEdgeBudget: Long = 2000000L,
                       presymmetrized: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"labelPropagation: rounds in [1, 20] (got $rounds)")
    val cast = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // presymmetrized: the caller vouches the input is ALREADY the
    // distinct, self-loop-free, both-orientations edge list (e.g. the
    // pinned Shared.coOrderEdges artifact) — re-symmetrizing it (a 2x
    // union + distinct + fresh checkpoint per call) is the identity and
    // was the whole cost of the query at bench scale. GraphSpec pins
    // presymmetrized ≡ default on a symmetrized graph.
    val e =
      if (presymmetrized) cast
      else Ckpt.cut(
        cast.unionByName(edges.select(col(dstCol).cast("long").as("src"),
          col(srcCol).cast("long").as("dst")))
          .filter(col("src") =!= col("dst")).distinct(), checkpointDir)
    // cost-based fast path (the connectedComponents driverEdgeBudget
    // posture): the vote join + count + per-node window cost a fixed
    // set of jobs per round; under the budget one collect + the exact
    // integer vote (max count, min-label ties) replaces them. Bigger
    // graphs keep the distributed loop; GraphSpec pins parity.
    if (e.count() <= driverEdgeBudget)
      return labelPropagationDriver(e, rounds)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val votes = e
        .join(labels.select(col("node").as("dst"), col("label")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val pick = Window.partitionBy(col("node"))
        .orderBy(col("__c").desc, col("label"))
      labels = Ckpt.cut(votes
        .withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1)
        .select(col("node"), col("label")), checkpointDir)
    }
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("label"))
      .select(col("node"), col("label").as("community"),
        col("community_size"))
      .orderBy("node")
  }

  /** [[labelPropagation]]'s under-budget path: the identical
    * deterministic sync vote (most-frequent neighbor label, SMALLEST
    * label on ties) from ONE collect of the symmetrized edge list —
    * pure integer comparisons, so parity with the distributed rounds
    * is exact. GraphSpec pins fast ≡ distributed via
    * `driverEdgeBudget = 0`.
    */
  private def labelPropagationDriver(e: DataFrame,
                                     rounds: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val edgeRows = e.select(col("src"), col("dst")).collect()
    if (edgeRows.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("node", "community", "community_size")
    // the edge list is symmetric, so src covers every node
    val nodes = edgeRows.map(_.getLong(0)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    // CSR adjacency over node indices (grouped by src)
    val degree = new Array[Int](n)
    edgeRows.foreach(r => degree(idx(r.getLong(0))) += 1)
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + degree(i); i += 1 }
    val fill = start.clone()
    val nbr = new Array[Int](edgeRows.length)
    edgeRows.foreach { r =>
      val s = idx(r.getLong(0))
      nbr(fill(s)) = idx(r.getLong(1)); fill(s) += 1
    }
    var label: Array[Long] = nodes.clone()
    val votes = scala.collection.mutable.HashMap.empty[Long, Long]
    for (_ <- 1 to rounds) {
      val next = new Array[Long](n)
      i = 0
      while (i < n) {
        votes.clear()
        var k = start(i)
        while (k < start(i + 1)) {
          val l = label(nbr(k))
          votes(l) = votes.getOrElse(l, 0L) + 1L
          k += 1
        }
        // max count, ties to the SMALLEST label — the row_number order
        var bestL = Long.MaxValue
        var bestC = 0L
        for ((l, c) <- votes)
          if (c > bestC || (c == bestC && l < bestL)) {
            bestC = c; bestL = l
          }
        next(i) = bestL
        i += 1
      }
      label = next
    }
    val sizes = scala.collection.mutable.HashMap.empty[Long, Long]
    label.foreach(l => sizes(l) = sizes.getOrElse(l, 0L) + 1L)
    (0 until n).map(i => (nodes(i), label(i), sizes(label(i))))
      .toDF("node", "community", "community_size").orderBy("node")
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * UNDIRECTED graph (pass any edge list; it is canonicalized to
    * `u < v` pairs) — the community-density readout next to
    * [[pageRank]]'s centrality. cc = 2·T / (deg·(deg−1)), 0 for
    * degree < 2.
    *
    * Plan: the classic ordered wedge join — canonical edges (a<b) joined
    * (a,b)⋈(b,c) enumerate each wedge ONCE (a<b<c), then one semi-join
    * against the edge set closes triangles. Wedge volume is Σ deg²,
    * the inherent cost of exact triangle counting — so a `maxDegree`
    * fail-loud guard rides in the plan: a hub beyond it raises instead
    * of silently detonating the wedge join (cap or sample hub
    * neighborhoods first, then raise the knob). All equi-joins, no
    * nested loop.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     maxDegree: Int = 10000): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val canon0 = raw
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .filter(col("a") < col("b")).distinct().localCheckpoint(eager = false)
    val deg = canon0.select(col("a").as("node"))
      .unionByName(canon0.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // fail-loud hub guard (the sweepExact posture): wedge volume is
    // Σ deg², so one 10⁶-degree hub costs 10¹² wedges. The guard rides
    // in the edge column the wedge join reads — never prunable.
    val canon = canon0
      .crossJoin(broadcast(deg.agg(max(col("degree")).as("__maxdeg"))))
      .withColumn("a",
        when(col("__maxdeg") <= maxDegree, col("a"))
          .otherwise(raise_error(concat(
            lit(s"triangleCounts: a node exceeds degree $maxDegree " +
              "(wedge space is quadratic per node); cap or sample hub " +
              "neighborhoods first — max degree seen: "),
            col("__maxdeg").cast("string")))))
      .drop("__maxdeg")
    val wedges = canon.as("e1")
      .join(canon.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val tris = wedges
      .join(canon.select(col("a"), col("b").as("c")), Seq("a", "c"),
        "left_semi")
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1L)).cast("double"))
          .otherwise(lit(0.0)), 6).as("clustering_coeff"))
      .orderBy("node")
  }

  /** Fixed-round multi-source BFS over a DIRECTED edge list: minimum hop
    * count from any seed node, for every node reachable within `rounds`
    * supersteps (unreached nodes are absent — at 100 TB emitting the
    * unreachable complement would be the bigger table). The reachability /
    * blast-radius primitive next to [[pageRank]]'s centrality: "every
    * entity within k joins of a contaminated source", lineage closure,
    * fraud-ring neighborhoods.
    *
    * One superstep = one equi-join of the edge list against the CURRENT
    * distance table plus one min-aggregation — the min-plus Pregel step
    * expressed declaratively. The distance table is one row per REACHED
    * node (≤ nodes, usually far below the edge list); each round's join
    * shuffles on the edge key with map-side combine on the min. A fixed
    * round count keeps the result deterministic and engine-replayable
    * (the unrolled-superstep posture); lineage truncates per round.
    * For an undirected graph pass both edge directions.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, rounds: Int,
              driverEdgeBudget: Long = 2000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"bfsHops: rounds in [1, 20] (got $rounds)")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
      .localCheckpoint(eager = false)
    val seedD = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
    // cost-based fast path (round 13 — the hits/harmonic posture): min
    // hop counts are exact integers independent of visit order, so one
    // collect + a multi-source BFS replaces `rounds` join + min-fold +
    // checkpoint supersteps, with exact parity (GraphSpec pins it at
    // driverEdgeBudget = 0). Unlike harmonic there is no seeds×edges
    // CPU gate: the multi-source BFS visits each edge at most once.
    if (e.count() <= driverEdgeBudget)
      return bfsHopsDriver(e, seedD, rounds)
    var dist = seedD.withColumn("hops", lit(0L))
    for (_ <- 1 to rounds) {
      val next = e
        .join(dist.select(col("node").as("src"), col("hops")), Seq("src"))
        .select(col("dst").as("node"), (col("hops") + 1L).as("hops"))
      dist = dist.unionByName(next)
        .groupBy("node").agg(min(col("hops")).as("hops"))
        .localCheckpoint(eager = false)
    }
    dist.orderBy("node")
  }

  /** [[bfsHops]]'s under-budget path: one multi-source BFS over a CSR
    * adjacency from ONE collect of the edge list — first discovery IS
    * the minimal hop count at unit weights, so parity with the
    * distributed min-fold supersteps is exact. Seeds absent from the
    * graph still emit their hops-0 row (the distributed union does).
    */
  private def bfsHopsDriver(e: DataFrame, seedD: DataFrame,
                            rounds: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val edgeRows = e.select(col("src"), col("dst")).collect()
    val seedIds = seedD.collect().map(_.getLong(0))
    val nodes = (edgeRows.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
      ++ seedIds).distinct.sorted
    if (nodes.isEmpty)
      return Seq.empty[(Long, Long)].toDF("node", "hops")
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val degree = new Array[Int](n)
    edgeRows.foreach(r => degree(idx(r.getLong(0))) += 1)
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + degree(i); i += 1 }
    val fill = start.clone()
    val nbr = new Array[Int](edgeRows.length)
    edgeRows.foreach { r =>
      val s = idx(r.getLong(0))
      nbr(fill(s)) = idx(r.getLong(1)); fill(s) += 1
    }
    val hops = Array.fill(n)(-1L)
    var frontier = seedIds.map(idx).distinct
    frontier.foreach(hops(_) = 0L)
    var d = 1L
    while (d <= rounds && frontier.nonEmpty) {
      val next = Array.newBuilder[Int]
      frontier.foreach { u =>
        var k = start(u)
        while (k < start(u + 1)) {
          val v = nbr(k)
          if (hops(v) < 0L) { hops(v) = d; next += v }
          k += 1
        }
      }
      frontier = next.result()
      d += 1
    }
    (0 until n).flatMap(i =>
        if (hops(i) >= 0L) Some((nodes(i), hops(i))) else None)
      .toDF("node", "hops").orderBy("node")
  }

  /** Fixed-round k-core peeling over an UNDIRECTED graph: each round
    * drops every node whose CURRENT degree is below `k`, together with
    * its incident edges — `rounds` unrolled supersteps of the k-core
    * onion. The graph-curation primitive (dense backbone vs noisy
    * periphery; e.g. spam/SEO link farms peel off early); with enough
    * rounds it converges to the exact k-core, and a FIXED round count
    * keeps the output deterministic and engine-replayable (the
    * [[pageRank]] unrolling posture). Output: surviving nodes with their
    * residual degree.
    *
    * One superstep = one keyed degree aggregation + two semi-joins
    * against the shrinking survivor set — all equi-joins on node ids,
    * map-side combined, nothing corpus-sized beyond the edge list itself;
    * lineage truncated per superstep.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int): DataFrame = {
    require(k >= 1, s"kCore: k >= 1 (got $k)")
    require(rounds >= 1 && rounds <= 20,
      s"kCore: rounds in [1, 20] (got $rounds)")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()
      .localCheckpoint(eager = false)
    var sym = canon.select(col("a").as("u"), col("b").as("v"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("u")
      sym = sym
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .localCheckpoint(eager = false)
    }
    sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).cast("long").as("degree"))
      .orderBy("node")
  }

  /** Seed-sampled harmonic centrality over a DIRECTED edge list: for
    * every node, Σ_seeds 1/d(seed → node) over the seeds that reach it
    * within `rounds` supersteps — the standard scalable estimator of
    * harmonic (closeness-family) centrality (Boldi & Vigna 2014:
    * exact closeness is all-pairs; a uniform seed sample gives an
    * unbiased Σ 1/d up to normalization). Unreached (node, seed) pairs
    * contribute 0 by omission; seeds contribute nothing to themselves
    * (d = 0 excluded).
    *
    * Plan: the [[bfsHops]] min-plus Pregel with the state keyed by
    * (node, seed) instead of node — one edge-keyed equi-join plus one
    * min-aggregation per superstep, state bounded by |nodes|·|seeds|
    * (seeds are a SAMPLE; the knob that makes this tractable at any
    * scale). Each 1/d term commits to the 1e-6 integer lattice before
    * the per-node fold, so the sum is exact long addition in any
    * partition order (the linkPrediction contract).
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         rounds: Int,
                         driverEdgeBudget: Long = 2000000L,
                         driverCpuBudget: Long = 100000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 10,
      s"harmonicCentrality: rounds in [1, 10] (got $rounds)")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
      .localCheckpoint(eager = false)
    val seedD = seeds.select(col(seedCol).cast("long").as("seed"))
      .distinct().localCheckpoint(eager = false)
    // cost-based fast path (the connectedComponents driverEdgeBudget
    // posture), CPU-gated on seeds × edges (the driver BFS does
    // O(seeds·(nodes+edges)) work, so the edge budget alone would let a
    // wide seed set run minutes of single-threaded BFS —
    // driverCpuBudget caps seeds·edges at ~1e8 visited-edge steps,
    // about a second of driver CPU; named per r12 advice so callers
    // can tune it alongside driverEdgeBudget). The two gate jobs
    // (e.count, seedD.count) run against lazily-checkpointed frames
    // the supersteps reuse when the gate rejects. GraphSpec pins
    // fast ≡ distributed.
    val eCount = e.count()
    if (eCount <= driverEdgeBudget) {
      val sn = seedD.count()
      if (sn * math.max(eCount, 1L) <= driverCpuBudget)
        return harmonicDriver(e, seedD, rounds)
    }
    var dist = seedD
      .select(col("seed").as("node"), col("seed"), lit(0L).as("d"))
      .localCheckpoint(eager = false)
    // frontier (delta) BFS: with unit weights, first discovery IS the
    // shortest distance, so each round relaxes only the pairs found in
    // the previous round — every (edge, seed) relaxes ONCE over the
    // whole run instead of once per round (3× on a diameter-2 graph)
    var frontier = dist
    for (_ <- 1 to rounds) {
      val cand = e
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("seed"), (col("d") + 1L).as("d"))
        .groupBy("node", "seed").agg(min(col("d")).as("d"))
      frontier = cand
        .join(dist.select("node", "seed"), Seq("node", "seed"), "left_anti")
        .localCheckpoint(eager = false)
      dist = dist.unionByName(frontier).localCheckpoint(eager = false)
    }
    dist.filter(col("d") > 0)
      .withColumn("__hm", round(lit(1000000.0) / col("d"), 0).cast("long"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_seeds_reached"), sum(col("__hm")).as("__h"))
      .select(col("node"), col("n_seeds_reached"),
        round(col("__h") / lit(1000000.0), 6).as("harmonic"))
      .orderBy("node")
  }

  /** [[harmonicCentrality]]'s under-budget path: per-seed BFS over a
    * CSR adjacency from ONE collect of the edge list. Unit-weight BFS
    * first-discovery distances are the same integers the frontier-delta
    * supersteps compute; the two roundings replicate Spark's `round`
    * (BigDecimal HALF_UP on the double) per element — both are pure
    * per-value functions, so parity is exact and order-free.
    */
  private def harmonicDriver(e: DataFrame, seedD: DataFrame,
                             rounds: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val edgeRows = e.select(col("src"), col("dst")).collect()
    val seedVals = seedD.collect().map(_.getLong(0))
    if (edgeRows.isEmpty || seedVals.isEmpty)
      return Seq.empty[(Long, Long, Double)]
        .toDF("node", "n_seeds_reached", "harmonic")
    val nodes = edgeRows
      .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val degree = new Array[Int](n)
    edgeRows.foreach(r => degree(idx(r.getLong(0))) += 1)
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + degree(i); i += 1 }
    val fill = start.clone()
    val nbr = new Array[Int](edgeRows.length)
    edgeRows.foreach { r =>
      val s = idx(r.getLong(0))
      nbr(fill(s)) = idx(r.getLong(1)); fill(s) += 1
    }
    def roundHalfUp(v: Double, scale: Int): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
    // hm(d) replicates round(1e6 / d, 0) for the bounded 1..rounds axis
    val hm = (0 to rounds).map(d =>
      if (d == 0) 0L else roundHalfUp(1000000.0 / d, 0).longValue).toArray
    val cnt = new Array[Long](n)
    val sumH = new Array[Long](n)
    val distArr = Array.fill(n)(-1)
    val queue = new Array[Int](n)
    for (sv <- seedVals; si <- idx.get(sv)) {
      java.util.Arrays.fill(distArr, -1)
      distArr(si) = 0
      queue(0) = si
      var head = 0
      var tail = 1
      while (head < tail) {
        val u = queue(head); head += 1
        val du = distArr(u)
        if (du < rounds) {
          var k = start(u)
          while (k < start(u + 1)) {
            val v = nbr(k)
            if (distArr(v) < 0) {
              distArr(v) = du + 1
              queue(tail) = v; tail += 1
            }
            k += 1
          }
        }
      }
      i = 0
      while (i < n) {
        if (distArr(i) > 0) {
          cnt(i) += 1L
          sumH(i) = Math.addExact(sumH(i), hm(distArr(i)))
        }
        i += 1
      }
    }
    (0 until n).filter(cnt(_) > 0L).map { i =>
      (nodes(i), cnt(i),
        roundHalfUp(sumH(i) / 1000000.0, 6).doubleValue)
    }.toDF("node", "n_seeds_reached", "harmonic").orderBy("node")
  }

  /** HITS hubs-and-authorities over a DIRECTED edge list for a fixed
    * number of supersteps (Kleinberg 1999) — the bipartite-flavored twin
    * of [[pageRank]]: an authority is pointed at by good hubs, a hub
    * points at good authorities. On the supplier co-order graph the two
    * scores coincide by symmetry-of-construction only when the graph is
    * symmetric; on any directed slice (status-filtered orders, follows,
    * citations) they split into "sourced-by-many" vs "sources-many".
    *
    * Determinism: scores live on the 1e-9 INTEGER lattice (longs), and
    * the per-half-step L1 normalization is EXACT INTEGER half-up
    * rounding — (2·raw·10⁹ + tot) integer-divided by 2·tot in
    * decimal(38,0) — so NO floating-point op exists anywhere in the
    * recursion (a double division here put one sf0.1 node on a
    * shortest-decimal .5 boundary where the engines' round() split by
    * one lattice unit). Strictly stronger than [[pageRank]]'s double
    * supersteps; the whole unrolled recursion is replayable in SQL with
    * `//`.
    *
    * Plan per half-step: one equi-join of the edge list against the
    * one-row-per-node score vector + one keyed sum (map-side combined)
    * + one scalar total broadcast back — the Pregel shape; lineage
    * truncated per superstep.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int,
           checkpointDir: Option[String] = None,
           driverEdgeBudget: Long = 2000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"hits: iterations in [1, 20] (got $iterations)")
    val e = Ckpt.cut(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct(), checkpointDir)
    // cost-based fast path (the connectedComponents driverEdgeBudget
    // posture): each superstep costs 2 half-steps of join + fold +
    // scalar broadcast + checkpoint regardless of graph size; under
    // the budget one collect + the exact lattice recursion in driver
    // integer math replaces 6 jobs per iteration. Over-budget graphs
    // keep the distributed loop; GraphSpec pins fast ≡ distributed.
    if (e.count() <= driverEdgeBudget) return hitsDriver(e, iterations)
    val nodes = Ckpt.cut(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct(), checkpointDir)
    // one normalized half-step: exact long fold -> exact integer
    // half-up rounding of raw·1e9/tot via (2·raw·1e9 + tot) div (2·tot)
    // in decimal(38,0) (IntegralDivide returns a long) -> back to the
    // lattice. coalesce BEFORE the division so sink/source nodes (no
    // in/out edges) carry an exact 0. No float anywhere.
    def norm(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      Ckpt.cut(nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          expr("CAST((CAST(coalesce(__raw, 0L) AS DECIMAL(38,0)) " +
            "* 2000000000 + __tot) div " +
            "(CAST(__tot AS DECIMAL(38,0)) * 2) AS BIGINT)").as(out)),
        checkpointDir)
    }
    var h = nodes.select(col("node"), lit(1000000000L).as("hm"))
    var a = nodes.select(col("node"), lit(0L).as("am"))
    for (_ <- 1 to iterations) {
      a = norm(e.join(h.select(col("node").as("src"), col("hm")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hm")).as("__raw")), "am")
      h = norm(e.join(a.select(col("node").as("dst"), col("am")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("am")).as("__raw")), "hm")
    }
    // display at 6 decimals via exact integer half-up rounding of the
    // lattice (am/1e9 rounded in doubles flips engines when a node
    // lands on a .5 boundary — sf0.1 supplier 37 did)
    a.join(h, Seq("node"))
      .select(col("node"),
        (expr("(am * 2 + 1000) div 2000").cast("double") / 1e6)
          .as("authority"),
        (expr("(hm * 2 + 1000) div 2000").cast("double") / 1e6)
          .as("hub"))
      .orderBy("node")
  }

  /** [[hits]]'s under-budget path: the identical lattice recursion from
    * ONE collect of the checkpointed edge list. Every operation is the
    * same exact integer as the distributed form — Long folds with
    * `Math.addExact` (the ANSI-overflow contract), the L1 half-step as
    * BigInt (2·raw·10⁹ + tot) div (2·tot) — so parity is bit-exact and
    * order-free. GraphSpec pins fast ≡ distributed via
    * `driverEdgeBudget = 0`.
    */
  private def hitsDriver(e: DataFrame, iterations: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val edgeRows = e.select(col("src"), col("dst")).collect()
    if (edgeRows.isEmpty)
      return Seq.empty[(Long, Double, Double)]
        .toDF("node", "authority", "hub")
    val nodes = edgeRows
      .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val srcI = new Array[Int](edgeRows.length)
    val dstI = new Array[Int](edgeRows.length)
    var k = 0
    while (k < edgeRows.length) {
      srcI(k) = idx(edgeRows(k).getLong(0))
      dstI(k) = idx(edgeRows(k).getLong(1))
      k += 1
    }
    def norm(raw: Array[Long]): Array[Long] = {
      var tot = 0L
      var i = 0
      while (i < n) { tot = Math.addExact(tot, raw(i)); i += 1 }
      val totB = BigInt(tot)
      val t2 = totB * 2
      raw.map(r => ((BigInt(r) * 2000000000L + totB) / t2).toLong)
    }
    var h = Array.fill(n)(1000000000L)
    var a = new Array[Long](n)
    for (_ <- 1 to iterations) {
      val ar = new Array[Long](n)
      k = 0
      while (k < edgeRows.length) {
        ar(dstI(k)) = Math.addExact(ar(dstI(k)), h(srcI(k))); k += 1
      }
      a = norm(ar)
      val hr = new Array[Long](n)
      k = 0
      while (k < edgeRows.length) {
        hr(srcI(k)) = Math.addExact(hr(srcI(k)), a(dstI(k))); k += 1
      }
      h = norm(hr)
    }
    (0 until n).map { i =>
      (nodes(i), ((a(i) * 2 + 1000L) / 2000L).toDouble / 1e6,
        ((h(i) * 2 + 1000L) / 2000L).toDouble / 1e6)
    }.toDF("node", "authority", "hub").orderBy("node")
  }

  /** Degree assortativity of an UNDIRECTED graph: the Pearson
    * correlation of endpoint degrees over the symmetrized edge set
    * (each undirected edge contributes both orientations — the standard
    * networkx/Newman 2002 convention). Positive = hubs link to hubs
    * (social cores), negative = hub-and-spoke (star topologies,
    * supplier hierarchies). One scalar row, plus the degree moments a
    * reader needs to interpret it.
    *
    * Exactness: degrees are integers, so every sufficient statistic
    * (n, Σd_u, Σd_u², Σd_u·d_v) folds exactly in decimal(38,0) — the
    * long-overflow-proof form (Σ n·d² products cross 2⁶³ near 10⁹
    * edges); the closed-form Pearson is two exact subtractions and one
    * correctly-rounded division. By symmetry of the orientation-doubled
    * edge list, the x and y marginals coincide, so the formula
    * collapses to (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²).
    *
    * Plan: one distinct + one degree aggregation + two node-keyed
    * equi-joins + one scalar fold. Nothing beyond the edge list is
    * materialized; no quadratic anything.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct().localCheckpoint(eager = false)
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val sym = canon.select(col("a").as("u"), col("b").as("v"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val f = sym.agg(
      count(lit(1)).as("__n"),
      sum(dec(col("du"))).as("__sx"),
      sum(dec(col("du")) * col("du")).as("__sxx"),
      sum(dec(col("du")) * col("dv")).as("__sxy"))
    val num = (dec(col("__n")) * col("__sxy") -
      col("__sx") * col("__sx")).cast("double")
    val den = (dec(col("__n")) * col("__sxx") -
      col("__sx") * col("__sx")).cast("double")
    f.select(
      (col("__n") / 2).cast("long").as("n_edges"),
      round(col("__sx").cast("double") / col("__n").cast("double"), 6)
        .as("avg_degree"),
      round(when(den > 0, num / den), 6).as("assortativity"))
  }

  /** Newman modularity of a NODE PARTITION over an UNDIRECTED graph:
    * Q = Σ_c (e_c/m − (d_c/2m)²), where e_c = edges inside community c,
    * d_c = total degree in c, m = total edges — "how much denser inside
    * the declared communities than a degree-preserving random rewiring".
    * The partition-quality readout for any clustering the engine
    * produces (connected components, LSH dedup clusters, k-means cells)
    * or any label the data carries (nation, domain, language). Output:
    * one row per community with its term, plus the lattice-exact Q fold
    * repeated on every row (the psi shape).
    *
    * Exactness: e_c, d_c, m are integers (exact folds); each
    * community's term is a fixed tree of correctly-rounded double ops
    * on those integers, committed to the 1e-12 lattice BEFORE the
    * global fold, so Q is exact long addition in any partition order.
    *
    * Plan: one distinct, two node-keyed equi-joins to attach labels to
    * endpoints, two keyed aggregations. Communities frame is one row
    * per node (the label side of a latest-snapshot); never quadratic.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct().localCheckpoint(eager = false)
    val lab = labels
      .select(col(nodeCol).cast("long").as("node"),
        col(labelCol).cast("string").as("community"))
      .distinct()
    val tagged = canon
      .join(lab.select(col("node").as("a"), col("community").as("ca")),
        Seq("a"))
      .join(lab.select(col("node").as("b"), col("community").as("cb")),
        Seq("b"))
      .localCheckpoint(eager = false)
    val m = tagged.agg(count(lit(1)).as("__m"))
    // within-community edges + community degree sums (each edge adds 1
    // to both endpoints' communities; within-edges add 2 to their own)
    val within = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val degSum = tagged
      .select(explode(array(col("ca"), col("cb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("d_tot"))
    val per = degSum.join(within, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"))
      .crossJoin(broadcast(m))
      .withColumn("__term",
        col("e_in").cast("double") / col("__m").cast("double") -
          (col("d_tot").cast("double") /
            (lit(2.0) * col("__m").cast("double"))) *
          (col("d_tot").cast("double") /
            (lit(2.0) * col("__m").cast("double"))))
      .withColumn("__tl", round(col("__term") * lit(1.0e12), 0).cast("long"))
    per.crossJoin(broadcast(
        per.agg(sum(col("__tl")).as("__q"))))
      .select(col("community"), col("e_in"), col("d_tot"),
        round(col("__term"), 6).as("term"),
        round(col("__q").cast("double") / lit(1.0e12), 6).as("modularity"))
      .orderBy("community")
  }

  /** Link prediction over an UNDIRECTED graph: for every NON-edge pair
    * with at least `minCommon` common neighbors, the three classic
    * neighborhood scores — common-neighbor count, Adamic–Adar
    * (Σ_w 1/ln deg(w), the inverse-log-degree weighting that discounts
    * hub-mediated wedges), and neighborhood Jaccard
    * (|Γu∩Γv| / |Γu∪Γv|). The "which entities SHOULD be connected"
    * primitive: recommended co-suppliers, missing joins in an entity
    * graph, candidate merges in record linkage.
    *
    * Plan: the same ordered wedge join as [[triangleCounts]] — adjacency
    * (center w, neighbor n) self-joined on w with n1 < n2 enumerates each
    * candidate pair once per common neighbor; one keyed aggregation folds
    * the scores; one anti-join against the canonical edge set keeps only
    * non-edges. Wedge volume is Σ deg², so the identical fail-loud
    * `maxDegree` hub guard rides in the plan. All equi-joins.
    *
    * Float determinism: each wedge's Adamic–Adar term is committed to the
    * integer lattice (`round(1e6/ln deg)` as BIGINT) BEFORE the keyed
    * sum, so the fold is exact long addition in any partition order —
    * the engine-replayable form of an otherwise order-sensitive double
    * sum (the q_price_elasticity lesson applied at the operator level).
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     minCommon: Int = 2, topK: Int = 0,
                     maxDegree: Int = 10000): DataFrame = {
    require(minCommon >= 1, s"linkPrediction: minCommon >= 1 (got $minCommon)")
    require(topK >= 0, s"linkPrediction: topK >= 0 (got $topK)")
    val canon0 = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct().localCheckpoint(eager = false)
    // node-grain, referenced 4x (hub-guard max, adj weights, du, dv) —
    // pinned so the union+fold over the edge list runs once
    val deg = canon0.select(col("a").as("node"))
      .unionByName(canon0.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    // fail-loud hub guard, same contract as triangleCounts: one hub node
    // costs deg² wedges, so refuse loudly instead of detonating.
    val canon = canon0
      .crossJoin(broadcast(deg.agg(max(col("deg")).as("__maxdeg"))))
      .withColumn("a",
        when(col("__maxdeg") <= maxDegree, col("a"))
          .otherwise(raise_error(concat(
            lit(s"linkPrediction: a node exceeds degree $maxDegree " +
              "(wedge space is quadratic per node); cap or sample hub " +
              "neighborhoods first — max degree seen: "),
            col("__maxdeg").cast("string")))))
      .drop("__maxdeg")
    // adjacency keyed by wedge CENTER, each center row carrying its
    // integer-lattice Adamic–Adar contribution. Degree-1 centers never
    // form a wedge but their rows still evaluate the projection, so the
    // ln(1)=0 division is guarded (ANSI mode fails loud otherwise).
    val adj = canon.select(col("a").as("w"), col("b").as("n"))
      .unionByName(canon.select(col("b").as("w"), col("a").as("n")))
      .join(deg.withColumnRenamed("node", "w"), Seq("w"))
      .withColumn("aa_m",
        when(col("deg") >= 2,
          round(lit(1000000.0) / log(col("deg").cast("double")), 0))
          .otherwise(lit(0.0)).cast("long"))
      .select("w", "n", "aa_m")
      // wedge-grain input, consumed by both self-join sides: pinned so
      // the guard + degree join chain materializes once
      .localCheckpoint(eager = false)
    val pairs = adj.as("l")
      .join(adj.as("r"), col("l.w") === col("r.w") && col("l.n") < col("r.n"))
      .groupBy(col("l.n").as("u"), col("r.n").as("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("l.aa_m")).as("aa_m"))
      .filter(col("common_neighbors") >= minCommon)
    val scored = pairs
      .join(canon.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    // optional deterministic global top-k on the LATTICE score (exact
    // longs, ties broken by the pair id) — orderBy+limit plans as
    // TakeOrderedAndProject, the distributed partial-top-k merge, never
    // a single-partition global sort. Candidate volume grows with graph
    // density, so serving paths should cap; audits pass topK = 0.
    val capped = if (topK > 0)
      scored.orderBy(col("aa_m").desc, col("u"), col("v")).limit(topK)
    else scored
    capped
      .select(col("u"), col("v"), col("common_neighbors"),
        round(col("aa_m") / lit(1000000.0), 6).as("adamic_adar"),
        round(col("common_neighbors").cast("double") /
          (col("du") + col("dv") - col("common_neighbors")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("u", "v")
  }
}
