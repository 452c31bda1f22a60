package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** k-core extraction: the maximal subgraph in which every vertex has
  * degree ≥ k, computed by synchronous peeling — each round removes
  * ALL vertices currently under degree k at once (Jacobi, like
  * [[LabelProp]]), shrinking the edge set until a fixpoint. The
  * standard graph-mining densest-region primitive (and the fifth
  * member of the iterate-to-fixpoint family: CC, PageRank, BFS/SSSP,
  * LPA).
  *
  * Synchronous rounds (not sequential peel) make the result of a FIXED
  * round budget deterministic and oracle-checkable by an unrolled SQL
  * twin; the fixpoint itself is round-order independent, so once
  * converged both formulations agree with the textbook k-core.
  *
  * Distributed shape per round: one degree aggregate over the live
  * edge set + two semi-joins (src alive, dst alive), `localCheckpoint`
  * cutting lineage — shuffle volume shrinks with the surviving edges.
  * Small graphs collapse to one task over the [[GraphEdges.local]]
  * compact graph (size-probed on the same cached canonical edge set,
  * [[TriangleCount]] pattern); integer
  * semantics make the two paths bit-identical (spec-enforced).
  */
object KCore {

  private val outSchema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("deg", LongType, nullable = false)))

  /** @param edges undirected edges, any orientation; duplicates and
    *   self-loops collapse/drop.
    * @param rounds synchronous peel rounds (fixpoint reached earlier is
    *   a no-op for the remaining rounds)
    * @param localThreshold max canonical edge count for the fused
    *   single-task path; 0 forces the distributed loop
    * @return (node, deg): vertices surviving `rounds` peels with their
    *   degree in the surviving subgraph. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int, localThreshold: Long = 5_000_000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val canon = GraphEdges.canonical(edges, srcCol, dstCol).persist()
    val m = canon.count()
    if (m <= localThreshold) {
      // the returned one-task plan reads the cache; blocks release via
      // ContextCleaner when it's collected (PageRank.run lifecycle)
      runFused(canon, k, rounds)
    } else {
      // the first localCheckpoint is eager, so the loop never re-reads
      // canon — safe to release immediately
      val out = runDistributed(canon, k, rounds)
      canon.unpersist()
      out
    }
  }

  /** Small-graph path: the peel in one task over the
    * [[GraphEdges.local]] compact graph. */
  private def runFused(canon: DataFrame, k: Int, rounds: Int): DataFrame =
    GraphEdges.local(canon, outSchema) { g =>
      val n = g.n; val m = g.m; val ua = g.src; val ub = g.dst
      val alive = new Array[Boolean](n)
      java.util.Arrays.fill(alive, true)
      val deg = new Array[Long](n)
      var i = 0
      var r = 0
      while (r < rounds) {
        java.util.Arrays.fill(deg, 0L)
        i = 0
        while (i < m) {
          if (alive(ua(i)) && alive(ub(i))) { deg(ua(i)) += 1; deg(ub(i)) += 1 }
          i += 1
        }
        var v = 0
        while (v < n) { // Jacobi: everyone under k drops simultaneously
          if (alive(v) && deg(v) < k) alive(v) = false
          v += 1
        }
        r += 1
      }
      // final degrees over the surviving subgraph
      java.util.Arrays.fill(deg, 0L)
      i = 0
      while (i < m) {
        if (alive(ua(i)) && alive(ub(i))) { deg(ua(i)) += 1; deg(ub(i)) += 1 }
        i += 1
      }
      Iterator.range(0, n)
        .filter(v => alive(v) && deg(v) > 0)
        .map(v => Row(g.ids(v), deg(v)))
    }

  /** Cluster-scale path: degree aggregate + two semi-joins per round. */
  private def runDistributed(canon: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    // both orientations so degree = a plain groupBy count on src
    var live = GraphEdges.symmetrize(canon).localCheckpoint()
    for (_ <- 1 to rounds) {
      val alive = live.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("v"))
      live = live
        .join(alive, col("src") === col("v"), "left_semi")
        .join(alive, col("dst") === col("v"), "left_semi")
        .localCheckpoint()
    }
    live.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }
}
