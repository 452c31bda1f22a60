package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** PageRank over an edge table — graph centrality as an iterative
  * DataFrame loop, reusing the exact execution shape of the engine's
  * connected-components merge (SURVEY §2.4 C-3: iterate joins to a
  * fixpoint, `localCheckpoint` each round to cut lineage — the Spark
  * twin of the reference's interleaved merge rounds,
  * `dbscan.cpp:847-1012`).
  *
  * Simple formulation: `r = (1-d)/N + d * Σ_in r(src)/outdeg(src)`,
  * uniform init 1/N, fixed iteration count. Dangling-node mass (nodes
  * with no out-edges) is dropped, not redistributed — states the common
  * simplified variant explicitly so a SQL oracle can mirror it
  * term-for-term.
  *
  * Scale: per iteration one join (edges ⋈ ranks on src — edges are
  * partitioned by src once and cached, so only the rank table
  * re-shuffles) and one aggregate (contributions by dst). No
  * driver-side graph state; ranks never leave executors. Iteration
  * count is the latency knob (10 ≈ the usual convergence budget).
  *
  * Like [[Dbscan.run]], a deduplicated edge set at or below
  * `localThreshold` takes a fused single-TASK path instead: the
  * iteration loop runs over the already-distinct edges compacted by
  * [[GraphEdges.local]] (primitive arrays, never a boxed map), zero
  * further shuffles, none of the per-round job latency that
  * dominates small graphs. Both paths implement the same
  * formula; results agree to float sum-order (spec-enforced), and
  * the threshold bounds the task's transient memory at ~56 B/edge
  * (≈ 280 MB at the 5M default).
  */
object PageRank {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("rank", DoubleType, nullable = false)))

  /** @param edges directed edge table; duplicates are collapsed.
    * @param localThreshold max deduplicated edge count for the fused
    *   single-task path; 0 forces the distributed loop.
    * @return (id, rank) for every node incident to an edge. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      localThreshold: Long = 5_000_000L): DataFrame =
    rank(edges, srcCol, dstCol, None, iterations, damping, localThreshold)

  /** Personalized PageRank: the teleport vector concentrates on a seed
    * set instead of spreading uniformly — "importance relative to THESE
    * nodes" (a user's neighborhood, a labeled cohort, a topic's seed
    * pages), the standard similarity/recommendation variant:
    * `r = (1−d)·1{v∈S}/|S| + d · Σ_in r(src)/outdeg(src)`, r₀ = the
    * teleport vector. Seeds outside the graph contribute nothing (|S|
    * counts seeds incident to an edge); dangling mass is dropped,
    * matching [[run]]'s stated simplification.
    *
    * Scale shape is [[run]]'s: the seed table joins the node table once
    * (broadcast — a seed set is small by definition), and each round is
    * the same join + aggregate + localCheckpoint. The fused small-graph
    * path collects the seed ids into the one task — bounded by the
    * node count, which the threshold already bounds.
    *
    * @param seeds one-column table of seed node ids.
    * @return (id, rank) for every node incident to an edge. */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int,
      damping: Double = 0.85,
      localThreshold: Long = 5_000_000L): DataFrame =
    rank(edges, srcCol, dstCol,
      Some(seeds.select(col(seedCol).cast("long").as("sid")).distinct()),
      iterations, damping, localThreshold)

  /** [[run]] (`seeds` None: uniform teleport) and [[personalized]]:
    * one validation, one cached distinct edge set whose count picks
    * the path, and one loop per path — the two differ only in the
    * teleport and initial rank vectors. Cache lifecycle: released by
    * the ContextCleaner with the plan, as in Dbscan.run — callers loop
    * over SESSIONS, not operators. */
  private def rank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[DataFrame], iterations: Int, damping: Double,
      localThreshold: Long): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val e = GraphEdges.directed(edges, srcCol, dstCol).persist()
    if (e.count() <= localThreshold) fused(e, seeds, iterations, damping)
    else distributed(e, seeds, iterations, damping)
  }

  /** Small-graph path: the whole iteration runs in ONE task over the
    * (already shuffled-distinct, cached) edge list. */
  private def fused(e: DataFrame, seeds: Option[DataFrame],
      iterations: Int, damping: Double): DataFrame = {
    // the graph fits one task, so the seed set (⊆ its nodes that
    // matter) is driver-safe by the same bound — the naive-Bayes /
    // IVF-literal-centroid stance on sub-threshold models
    val seedIds = seeds.map { sd =>
      val s = sd.collect().map(_.getLong(0)); java.util.Arrays.sort(s); s
    }
    GraphEdges.local(e, outSchema) { g =>
      val n = g.n
      val (base, init) = seedIds match {
        case None =>
          (Array.fill(n)((1.0 - damping) / n), Array.fill(n)(1.0 / n))
        case Some(s) =>
          val isSeed = g.ids.map(id =>
            java.util.Arrays.binarySearch(s, id) >= 0)
          val nS = isSeed.count(identity)
          // an empty effective seed set has nothing to teleport to: all
          // ranks are exactly 0 (the distributed path agrees)
          val seedMass = if (nS == 0) 0.0 else 1.0 / nS
          (Array.tabulate(n)(v =>
            if (isSeed(v)) (1.0 - damping) * seedMass else 0.0),
            Array.tabulate(n)(v => if (isSeed(v)) seedMass else 0.0))
      }
      val deg = new Array[Double](n)
      g.src.foreach(s => deg(s) += 1.0)
      var rank = init
      for (_ <- 1 to iterations) {
        val in = new Array[Double](n)
        var i = 0
        while (i < g.m) {
          in(g.dst(i)) += rank(g.src(i)) / deg(g.src(i)); i += 1
        }
        rank = Array.tabulate(n)(v => base(v) + damping * in(v))
      }
      g.ids.iterator.zipWithIndex.map { case (id, j) => Row(id, rank(j)) }
    }
  }

  /** Cluster-scale path: per-round join + aggregate, checkpointed. */
  private def distributed(e: DataFrame, seeds: Option[DataFrame],
      iterations: Int, damping: Double): DataFrame = {
    val ids = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val (nodes, base, init) = seeds match {
      case None =>
        val nodes = ids.persist()
        val n = math.max(nodes.count(), 1L)
        (nodes, lit((1.0 - damping) / n), lit(1.0 / n))
      case Some(sd) =>
        val nodes = ids.join(broadcast(sd), col("id") === col("sid"), "left")
          .select(col("id"), col("sid").isNotNull.as("seed"))
          .persist()
        val nS = nodes.filter(col("seed")).count()
        val seedMass = if (nS == 0) 0.0 else 1.0 / nS
        (nodes, when(col("seed"), lit((1.0 - damping) * seedMass))
          .otherwise(lit(0.0)),
          when(col("seed"), lit(seedMass)).otherwise(lit(0.0)))
    }
    // out-degree rides each edge row: groupBy(src) and the join back
    // are co-partitioned (one shuffle), cached for every round
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .persist()
    var ranks = nodes.select(col("id"), init.as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = eDeg.join(ranks, col("src") === col("id"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      ranks = nodes.join(contribs, col("id") === col("dst"), "left")
        .select(col("id"),
          (base + lit(damping) * coalesce(col("m"), lit(0.0))).as("rank"))
        .localCheckpoint() // cut the per-round lineage, like the CC loop
    }
    nodes.unpersist()
    eDeg.unpersist() // ranks are checkpointed — nothing depends on it now
    ranks
  }
}
