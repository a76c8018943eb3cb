package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The driver-side graph every dual-path graph op runs its exact
  * recursion on, built once from the collected `(src, dst)` rows:
  * sorted distinct node ids (binary search is the id → index lookup,
  * no boxed map), per-edge `src`/`dst` index arrays, and a CSR
  * out-adjacency — node i's out-neighbours are
  * `nbr(start(i) until start(i + 1))`, in input order.
  */
final class DriverGraph private (val ids: Array[Long],
                                 val src: Array[Int],
                                 val dst: Array[Int]) {
  val n: Int = ids.length
  val start: Array[Int] = new Array[Int](n + 1)
  val nbr: Array[Int] = new Array[Int](src.length)

  {
    src.foreach(s => start(s + 1) += 1)
    var i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val fill = start.clone()
    var k = 0
    while (k < src.length) {
      nbr(fill(src(k))) = dst(k); fill(src(k)) += 1
      k += 1
    }
  }

  /** Index of `id`, or a negative number when it is not a node. */
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  def outDegree(i: Int): Int = start(i + 1) - start(i)
}

/** The one gate between an op's driver path and its distributed
  * supersteps. [[collectWithin]] counts the op's input frame and
  * collects it only when the count is within the budget (inclusive);
  * otherwise the op runs its distributed loop. Both paths give the same
  * rows — `DriverParitySpec` pins driver ≡ distributed for every op at
  * `driverEdgeBudget = 0`, which forces the loop on any non-empty input.
  *
  * Users: `Graph.pageRank`, `labelPropagation`, `bfsHops`,
  * `harmonicCentrality`, `hits`, `Dedup.connectedComponents`,
  * `connectedComponentsStar` (edges) and `Learn.bradleyTerry` (its
  * `(winner, loser)` cells are the league's edges). Each takes its
  * budget as `driverEdgeBudget`, defaulting to [[Budget]].
  */
object DriverGraph {

  /** Default row budget of every dual-path op. Driver-memory envelope
    * near the boundary: 2M collected Rows plus the op's driver-side
    * tables cost a few hundred MB of driver heap — sized against the
    * bench driver's 8g heap; pass a lower budget when the driver is
    * smaller. */
  val Budget = 2000000L

  /** `df`'s rows when `df.count() <= budget`, else None (one count job,
    * plus one collect job when the driver path is taken). */
  def collectWithin(df: DataFrame, budget: Long): Option[Array[Row]] = {
    require(budget >= 0L, s"driver budget must be >= 0 (got $budget)")
    if (df.count() <= budget) Some(df.collect()) else None
  }

  /** The graph of `rows`, whose columns 0 and 1 are the non-NULL long
    * `(src, dst)` endpoints; `extraIds` adds nodes that need not carry an
    * edge (BFS seeds). */
  def apply(rows: Array[Row],
            extraIds: Array[Long] = Array.emptyLongArray): DriverGraph = {
    val m = rows.length
    val ends = new Array[Long](2 * m + extraIds.length)
    var k = 0
    while (k < m) {
      ends(2 * k) = rows(k).getLong(0); ends(2 * k + 1) = rows(k).getLong(1)
      k += 1
    }
    System.arraycopy(extraIds, 0, ends, 2 * m, extraIds.length)
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    for (i <- sorted.indices)
      if (i == 0 || sorted(i) != sorted(i - 1)) { sorted(n) = sorted(i); n += 1 }
    val ids = java.util.Arrays.copyOf(sorted, n)
    def at(j: Int): Int = java.util.Arrays.binarySearch(ids, ends(j))
    new DriverGraph(ids, Array.tabulate(m)(k => at(2 * k)),
      Array.tabulate(m)(k => at(2 * k + 1)))
  }
}
