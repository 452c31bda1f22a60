package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Multi-source BFS hop labeling: the minimum hop count from any seed
  * node to every reachable node of a directed edge table. The "blast
  * radius" primitive behind reachability audits, influence frontiers,
  * and dependency-depth reports — and the third member of the engine's
  * iterate-to-fixpoint family (connected components, PageRank, this),
  * all reusing the reference's interleaved-merge execution shape
  * (`dbscan.cpp:847-1012`: rounds of exchange until a global "no new
  * information" test).
  *
  * Semantics: seeds are hop 0; `hops(v) = 1 + min over in-neighbors`;
  * unreachable nodes are absent from the output. `maxHops` bounds the
  * exploration depth — the result is exact for every node whose true
  * distance is ≤ maxHops (and the oracle can mirror the same bound).
  *
  * Scale shape (distributed path): classic frontier BFS — per round the
  * FRONTIER (not the full visited set) joins the edge table, newly
  * reached nodes come from one anti join against the visited set, and
  * `localCheckpoint` cuts the growing lineage. Edges are partitioned by
  * src once and cached; each round shuffles only frontier-sized data.
  * The driver's emptiness check on the new frontier is the fixpoint
  * test. Like [[PageRank.run]], a deduplicated edge set at or below
  * `localThreshold` takes a fused single-task path instead: CSR
  * adjacency + an int work-queue, zero per-round jobs. Both paths are
  * exact (integer hops — no float order issues), spec-enforced equal.
  */
object ShortestPath {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("hops", IntegerType, nullable = false)))

  /** @param edges directed edge table (traversed src → dst);
    *   duplicates are collapsed.
    * @param seeds one long id column; seeds absent from the edge table
    *   still appear in the output at hop 0.
    * @param localThreshold max deduplicated edge count for the fused
    *   single-task path; 0 forces the distributed loop.
    * @return (id, hops) for every node within maxHops of a seed. */
  def hops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 20,
      localThreshold: Long = 5_000_000L): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = GraphEdges.directed(edges, srcCol, dstCol).persist()
    val s = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    val nEdges = e.count()
    if (nEdges <= localThreshold) runFused(e, s, maxHops)
    else runDistributed(e, s, maxHops)
  }

  /** Small-graph path: CSR + array-based BFS in ONE task; the seeds
    * ride in-band ([[GraphEdges.local]]). */
  private def runFused(e: DataFrame, s: DataFrame,
      maxHops: Int): DataFrame =
    GraphEdges.local(e, outSchema, Some(s)) { g =>
      val n = g.n
      val (off, adj) = g.csr(g.src, g.dst)
      val hops = Array.fill(n)(-1)
      var frontier = new Array[Int](g.seeds.length)
      var fn = 0
      g.seeds.foreach { ix =>
        if (hops(ix) < 0) { hops(ix) = 0; frontier(fn) = ix; fn += 1 }
      }
      var depth = 0
      while (fn > 0 && depth < maxHops) {
        depth += 1
        val next = new Array[Int](n)
        var nn = 0
        var i = 0
        while (i < fn) {
          val v = frontier(i)
          var j = off(v)
          while (j < off(v + 1)) {
            val w = adj(j)
            if (hops(w) < 0) { hops(w) = depth; next(nn) = w; nn += 1 }
            j += 1
          }
          i += 1
        }
        frontier = next; fn = nn
      }
      Iterator.range(0, n).filter(hops(_) >= 0)
        .map(v => Row(g.ids(v), hops(v)))
    }

  private val wOutSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("dist", LongType, nullable = false)))

  /** Weighted single-source (multi-seed) shortest paths, Bellman–Ford
    * style: after `rounds` relaxation rounds every node carries the
    * minimum total edge weight over paths of ≤ `rounds` edges from any
    * seed — exact for every node whose true shortest path uses ≤ rounds
    * edges. Weights are LONG (integer — e.g. cents): distances are sums
    * of longs, so both paths here and any SQL twin agree bit-for-bit
    * with no float-order caveats.
    *
    * Scale shape: the relaxation round is the engine's iterate-to-
    * fixpoint shape again — one join (edges ⋈ dist on src; edges
    * partitioned once and cached) and one min-aggregate per round,
    * `localCheckpoint` cutting lineage. The fused path (≤ localThreshold
    * distinct edges) runs the same rounds over CSR arrays in one task.
    *
    * @param rounds relaxation rounds (= max path edge count considered).
    * @return (id, dist) for every node within `rounds` edges of a seed. */
  def weighted(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, seeds: DataFrame, seedCol: String, rounds: Int,
      localThreshold: Long = 5_000_000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // parallel edges collapse to their min weight — the only one that
    // can ever win a relaxation
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
      .groupBy("src", "dst").agg(min(col("w")).as("w")).persist()
    val s = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    val nEdges = e.count()
    if (nEdges <= localThreshold) weightedFused(e, s, rounds)
    else weightedDistributed(e, s, rounds)
  }

  /** Small-graph path: Bellman–Ford rounds over edge arrays in ONE
    * task. Seeds ride in-band like [[runFused]]; a distance that
    * overflows a long fails the query, as the distributed path's ANSI
    * `bigint + bigint` does. */
  private def weightedFused(e: DataFrame, s: DataFrame,
      rounds: Int): DataFrame =
    GraphEdges.local(e, wOutSchema, Some(s)) { g =>
      val NoDist = Long.MaxValue
      var dist = Array.fill(g.n)(NoDist)
      g.seeds.foreach(dist(_) = 0L)
      for (_ <- 1 to rounds) {
        val next = dist.clone()
        var i = 0
        while (i < g.m) {
          val ds = dist(g.src(i))
          if (ds != NoDist) {
            val d = Math.addExact(ds, g.w(i))
            if (d < next(g.dst(i))) next(g.dst(i)) = d
          }
          i += 1
        }
        dist = next
      }
      Iterator.range(0, g.n).filter(dist(_) != NoDist)
        .map(v => Row(g.ids(v), dist(v)))
    }

  /** Cluster-scale path: join + min-aggregate per round, checkpointed. */
  private def weightedDistributed(e: DataFrame, s: DataFrame,
      rounds: Int): DataFrame = {
    var dist = s.select(col("id"), lit(0L).as("dist")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val relax = e.join(dist, col("src") === col("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relax)
        .groupBy("id").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    e.unpersist()
    dist
  }

  /** Cluster-scale path: frontier join per round, checkpointed. */
  private def runDistributed(e: DataFrame, s: DataFrame,
      maxHops: Int): DataFrame = {
    var visited = s.select(col("id"), lit(0).as("hops")).localCheckpoint()
    var frontier = visited
    var depth = 0
    while (depth < maxHops && !frontier.isEmpty) {
      depth += 1
      val next = e.join(frontier, col("src") === col("id"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(depth).as("hops"))
        .localCheckpoint() // cut lineage; also pins the frontier for reuse
      visited = visited.unionAll(next).localCheckpoint()
      frontier = next
    }
    e.unpersist()
    visited
  }
}
