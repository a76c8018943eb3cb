package graft

import graft.ops.{Dedup, DriverGraph, Graph, Learn}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Every dual-path op gives the same rows on its [[DriverGraph]] driver
  * path and on its distributed supersteps (`driverEdgeBudget = 0`), on
  * seeded generated graphs and on the degenerate ones: no edges, a
  * single self-loop, duplicate edges, disconnected parts, seeds absent
  * from the graph, NULL endpoints and NULL seeds.
  */
class DriverParitySpec extends SparkSpec {
  import spark.implicits._

  /** A graph case: nullable edge endpoints plus nullable seeds. */
  case class G(edges: Seq[(Option[Long], Option[Long])],
               seeds: Seq[Option[Long]])

  private def e(pairs: (Long, Long)*) =
    pairs.map { case (a, b) => (Option(a), Option(b)) }

  private val degenerate = Seq(
    "no edges" -> G(Nil, Seq(Some(1L))),
    "a single self-loop" -> G(e(3L -> 3L), Seq(Some(3L))),
    "duplicate edges" -> G(e(1L -> 2L, 1L -> 2L, 2L -> 1L, 2L -> 3L,
      2L -> 3L), Seq(Some(1L))),
    "disconnected parts" -> G(e(1L -> 2L, 2L -> 3L, 3L -> 1L, 10L -> 11L,
      20L -> 21L, 21L -> 22L), Seq(Some(1L), Some(20L))),
    "seeds absent from the graph" -> G(e(1L -> 2L, 2L -> 3L),
      Seq(Some(1L), Some(99L))),
    "NULL endpoints" -> G(Seq((None, Some(2L)), (Some(2L), None),
      (None, None), (Some(1L), Some(2L)), (Some(2L), Some(3L))),
      Seq(Some(1L), Some(2L))),
    "NULL seeds" -> G(e(1L -> 2L, 2L -> 3L, 3L -> 4L), Seq(None, Some(1L))))

  // small random digraphs over ≤ 12 ids: self-loops, duplicates and
  // disconnected parts arise on their own; one endpoint or seed in ~20
  // is NULL and seeds may fall outside the graph
  private val genG: Gen[G] = {
    def opt(g: Gen[Long]) =
      Gen.frequency(19 -> g.map(Option(_)), 1 -> Gen.const(None))
    for {
      ids <- Gen.choose(1L, 12L)
      id = opt(Gen.choose(0L, ids))
      m <- Gen.choose(1, 30)
      edges <- Gen.listOfN(m, Gen.zip(id, id))
      k <- Gen.choose(1, 4)
      seeds <- Gen.listOfN(k, opt(Gen.choose(0L, ids + 2)))
    } yield G(edges, seeds)
  }
  private val generated = (1 to 10).map { i =>
    s"generated graph $i" ->
      genG.pureApply(Gen.Parameters.default.withSize(30), Seed(4000L + i))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
  // the distributed CC paths do not sort, so compare them as sets
  private def sortedRows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def op(name: String)(
      run: (DataFrame, DataFrame, Long) => Seq[Any]) = name -> run
  private val ops = Seq(
    op("pageRank")((g, _, b) => rows(Graph.pageRank(g, "src", "dst",
      iterations = 3, driverEdgeBudget = b))),
    op("labelPropagation")((g, _, b) => rows(Graph.labelPropagation(g,
      "src", "dst", rounds = 3, driverEdgeBudget = b))),
    op("bfsHops")((g, s, b) => rows(Graph.bfsHops(g, "src", "dst", s,
      "seed", rounds = 3, driverEdgeBudget = b))),
    op("harmonicCentrality")((g, s, b) => rows(Graph.harmonicCentrality(
      g, "src", "dst", s, "seed", rounds = 3, driverEdgeBudget = b))),
    op("hits")((g, _, b) => rows(Graph.hits(g, "src", "dst",
      iterations = 3, driverEdgeBudget = b))),
    op("connectedComponents")((g, _, b) => sortedRows(
      Dedup.connectedComponents(g, "src", "dst", driverEdgeBudget = b))),
    op("connectedComponentsStar")((g, _, b) => sortedRows(
      Dedup.connectedComponentsStar(g, "src", "dst",
        driverEdgeBudget = b))),
    op("bradleyTerry")((g, _, b) => rows(Learn.bradleyTerry(g, "src",
      "dst", iterations = 3, driverEdgeBudget = b))))

  for ((op, run) <- ops)
    test(s"$op: driver path ≡ distributed supersteps on degenerate and " +
        "generated graphs, NULL endpoints and seeds dropped") {
      for ((name, c) <- degenerate ++ generated) {
        val g = c.edges.toDF("src", "dst")
        val s = c.seeds.toDF("seed")
        val driver = run(g, s, DriverGraph.Budget)
        assert(driver == run(g, s, 0L), s"$op on $name")
        assert(!driver.mkString.contains("null"), s"$op on $name: $driver")
      }
    }

  test("DriverGraph: the gate's budget is inclusive; ids are sorted and " +
      "distinct with a CSR out-adjacency") {
    val df = Seq((5L, 1L), (1L, 5L), (5L, 9L)).toDF("src", "dst")
    assert(DriverGraph.collectWithin(df, 3L).map(_.length).contains(3))
    assert(DriverGraph.collectWithin(df, 2L).isEmpty)
    val g = DriverGraph(DriverGraph.collectWithin(df, 3L).get, Array(7L))
    assert(g.ids.toSeq == Seq(1L, 5L, 7L, 9L))
    assert(g.index(9L) == 3 && g.index(4L) < 0)
    assert((0 until g.n).map(g.outDegree) == Seq(1, 2, 0, 0))
    val five = g.index(5L)
    assert(g.nbr.slice(g.start(five), g.start(five + 1)).map(g.ids).toSet ==
      Set(1L, 9L))
  }
}
