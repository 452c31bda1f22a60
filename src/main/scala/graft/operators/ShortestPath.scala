package graft.operators

import scala.collection.mutable

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
  * Scale shape: one frontier step, [[expand]] (every unvisited
  * out-neighbour of a frontier node is reached at the next level). At
  * or below `localThreshold` edge rows it runs over CSR arrays in ONE
  * task. Above it, per vertex block of [[GraphRounds]]: level d
  * sends only the vertices reached at d - 1 to the blocks holding
  * their out-edges, so levels past the last are empty; all `maxHops`
  * levels chain into one job whose output is checkpointed once, with
  * no per-level emptiness test. Both paths are exact (integer hops —
  * no float order issues), spec-enforced equal.
  */
object ShortestPath {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("hops", IntegerType, nullable = false)))

  /** @param edges directed edge table (traversed src → dst);
    *   duplicates and edges with a NULL endpoint are dropped.
    * @param seeds one long id column; seeds absent from the edge table
    *   still appear in the output at hop 0, NULL ids are dropped.
    * @param localThreshold max edge rows with no NULL endpoint, counted
    *   before duplicates drop, for the fused single-task path; 0 forces
    *   the distributed loop. Both paths return the same rows — only the
    *   route depends on it.
    * @return (id, hops) for every node within maxHops of a seed. */
  def hops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 20,
      localThreshold: Long = 5_000_000L): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = GraphEdges.longs(edges, srcCol -> "src", dstCol -> "dst")
    val s = GraphEdges.longs(seeds, seedCol -> "id")
    if (fused(e, localThreshold)) runFused(e, s, maxHops)
    else runDistributed(e, s, maxHops)
  }

  /** The dispatch of both operators: the raw edge rows, probed up to
    * `localThreshold` (no probe at all when it is <= 0). Repeated edges
    * collapse inside the tasks on either path. */
  private def fused(e: DataFrame, localThreshold: Long): Boolean =
    localThreshold > 0 &&
      Dispatch.fits("shortest-path", e -> localThreshold)

  /** One BFS level, the step both paths run: every unvisited
    * out-neighbour of a `frontier` node is reached at `depth` (in
    * `hops`, in place). @return the newly reached nodes. */
  private def expand(g: LocalGraph, frontier: Array[Int],
      hops: Array[Int], depth: Int): Array[Int] = {
    val (off, adj) = g.bySrc
    val next = new mutable.ArrayBuilder.ofInt
    for (v <- frontier) {
      var j = off(v)
      while (j < off(v + 1)) {
        val w = adj(j)
        if (hops(w) < 0) { hops(w) = depth; next += w }
        j += 1
      }
    }
    next.result()
  }

  /** Seeds at hop 0, every other node unvisited (-1). */
  private def startHops(g: LocalGraph): Array[Int] = {
    val hops = Array.fill(g.n)(-1)
    g.seeds.foreach(hops(_) = 0)
    hops
  }

  /** Small-graph path: frontier BFS over CSR arrays in ONE task; the
    * seeds ride in-band ([[GraphEdges.local]]). */
  private def runFused(e: DataFrame, s: DataFrame,
      maxHops: Int): DataFrame =
    GraphEdges.local(e, outSchema, Some(s)) { g =>
      val hops = startHops(g)
      var frontier = g.seeds
      var depth = 0
      while (frontier.nonEmpty && depth < maxHops) {
        depth += 1
        frontier = expand(g, frontier, hops, depth)
      }
      Iterator.range(0, g.n).filter(hops(_) >= 0)
        .map(v => Row(g.ids(v), hops(v)))
    }

  /** Cluster-scale path: [[GraphRounds]]; round d sends only the
    * vertices reached at d - 1, so rounds past the last level are
    * empty and no round needs a driver-side emptiness test. */
  private def runDistributed(e: DataFrame, s: DataFrame,
      maxHops: Int): DataFrame = {
    val gr = GraphRounds(e, Some(s.select(col("id"), lit(0L))),
      addSeeds = true)
    var hops = gr.init(b => startHops(b.g))
    for (depth <- 1 to maxHops) {
      def reachedLast(h: Array[Int]) =
        Array.range(0, h.length).filter(h(_) == depth - 1)
      hops = gr.round(hops) { (_, h, emit) =>
        reachedLast(h).foreach(emit(_, 0L))
      } { (b, h, mix, _) =>
        val next = h.clone()
        expand(b.g, reachedLast(h) ++ mix, next, depth)
        next
      }
    }
    gr.finish(hops, outSchema) { (b, h) =>
      Iterator.range(0, b.g.n).filter(h(_) >= 0)
        .map(v => Row(b.g.ids(v), h(v)))
    }
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
    * with no float-order caveats; a sum that overflows a long fails the
    * query on both paths. Edges with a NULL endpoint or weight are
    * dropped.
    *
    * Scale shape: the fused path (≤ localThreshold edge rows, as in
    * [[hops]]) runs the Jacobi rounds over edge arrays in one task;
    * parallel edges collapse to their least weight — the only one that
    * can ever win a relaxation — inside the tasks. Above it the same
    * [[relax]] runs per vertex block of [[GraphRounds]], one exchange
    * of the reached vertices' distances per round.
    *
    * @param rounds relaxation rounds (= max path edge count considered).
    * @return (id, dist) for every node within `rounds` edges of a seed. */
  def weighted(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, seeds: DataFrame, seedCol: String, rounds: Int,
      localThreshold: Long = 5_000_000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = GraphEdges.longs(edges, srcCol -> "src", dstCol -> "dst",
      wCol -> "w")
    val s = GraphEdges.longs(seeds, seedCol -> "id")
    if (fused(e, localThreshold)) weightedFused(e, s, rounds)
    else weightedDistributed(e, s, rounds)
  }

  private val NoDist = Long.MaxValue

  /** Seeds at 0, every other node unreached ([[NoDist]]). */
  private def startDist(g: LocalGraph): Array[Long] = {
    val dist = Array.fill(g.n)(NoDist)
    g.seeds.foreach(dist(_) = 0L)
    dist
  }

  /** One Jacobi Bellman–Ford round, the update both paths run: every
    * edge relaxes its dst from the previous round's `dist`, with
    * `Math.addExact` (an overflow throws). @return the next round's. */
  private def relax(g: LocalGraph, dist: Array[Long]): Array[Long] = {
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
    next
  }

  /** Small-graph path: [[relax]] rounds over edge arrays in ONE task;
    * seeds ride in-band like [[runFused]]. */
  private def weightedFused(e: DataFrame, s: DataFrame,
      rounds: Int): DataFrame =
    GraphEdges.local(e, wOutSchema, Some(s)) { g =>
      var dist = startDist(g)
      for (_ <- 1 to rounds) dist = relax(g, dist)
      Iterator.range(0, g.n).filter(dist(_) != NoDist)
        .map(v => Row(g.ids(v), dist(v)))
    }

  /** Cluster-scale path: [[relax]] per vertex block of [[GraphRounds]].
    * Every reached vertex sends its distance each round; distances only
    * fall, so a mirror slot always holds its source's current one. */
  private def weightedDistributed(e: DataFrame, s: DataFrame,
      rounds: Int): DataFrame = {
    val gr = GraphRounds(e, Some(s.select(col("id"), lit(0L))),
      addSeeds = true)
    var dist = gr.init(b => startDist(b.g))
    for (_ <- 1 to rounds)
      dist = gr.round(dist) { (b, d, emit) =>
        for (v <- d.indices if b.owned(v) && d(v) != NoDist) emit(v, d(v))
      } { (b, d, mix, vals) =>
        relax(b.g, GraphRounds.received(d, mix, vals))
      }
    gr.finish(dist, wOutSchema) { (b, d) =>
      Iterator.range(0, b.g.n).filter(v => b.owned(v) && d(v) != NoDist)
        .map(v => Row(b.g.ids(v), d(v)))
    }
  }
}
