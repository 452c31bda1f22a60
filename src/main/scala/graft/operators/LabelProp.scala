package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Synchronous label propagation (community detection): every node
  * starts as its own label; each round all nodes SIMULTANEOUSLY adopt
  * the most frequent label among their in-neighbors (ties to the
  * smallest label). The deterministic, oracle-checkable variant of LPA
  * — asynchronous LPA's result depends on visit order, which no SQL
  * twin could reproduce; synchronous rounds are a pure dataflow.
  *
  * The fourth member of the iterate-to-fixpoint family (CC, PageRank,
  * BFS/SSSP): per round one join (edges ⋈ labels on src — edges
  * partitioned once and cached) and two aggregates (label counts per
  * node, then the (count DESC, label ASC) argmin via the one-pass
  * min(struct(-cnt, lbl)) trick — no window), `localCheckpoint`
  * cutting lineage. Nodes with no in-edges keep their current label.
  */
object LabelProp {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", LongType, nullable = false)))

  /** @param edges directed (labels flow src → dst); pass both
    *   orientations for an undirected graph. Duplicates collapse.
    * @param localThreshold max deduplicated edge count for the fused
    *   single-task path (all-integer semantics, so the paths are
    *   bit-identical — spec-enforced); 0 forces the distributed loop.
    * @return (id, label) after `rounds` synchronous rounds. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, localThreshold: Long = 5_000_000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = GraphEdges.directed(edges, srcCol, dstCol).persist()
    val nEdges = e.count()
    if (nEdges <= localThreshold) runFused(e, rounds)
    else runDistributed(e, rounds)
  }

  /** Small-graph path: CSR-by-dst + per-node count maps in ONE task. */
  private def runFused(e: DataFrame, rounds: Int): DataFrame =
    GraphEdges.local(e, outSchema) { g =>
      val n = g.n
      // CSR indexed by DST: for each node, its in-neighbor sources
      val (off, inAdj) = g.csr(g.dst, g.src)
      var label: Array[Long] = g.ids.clone()
      for (_ <- 1 to rounds) {
        val next = label.clone() // Jacobi: no-in-edge nodes keep theirs
        val counts = new java.util.HashMap[Long, Int]()
        var v = 0
        while (v < n) {
          if (off(v + 1) > off(v)) {
            counts.clear()
            var bestL = Long.MaxValue
            var bestC = 0
            var j = off(v)
            while (j < off(v + 1)) {
              val l = label(inAdj(j))
              val c = counts.merge(l, 1, Integer.sum)
              if (c > bestC || (c == bestC && l < bestL)) {
                bestC = c; bestL = l
              }
              j += 1
            }
            next(v) = bestL
          }
          v += 1
        }
        label = next
      }
      Iterator.range(0, n).map(v => Row(g.ids(v), label(v)))
    }

  /** Cluster-scale path: join + two aggregates per round, checkpointed. */
  private def runDistributed(e: DataFrame, rounds: Int): DataFrame = {
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct()
    var labels = nodes.select(col("id"), col("id").as("label"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val adopted = e.join(labels, col("src") === col("id"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("m"))
        .select(col("dst").as("id"), col("m.l").as("label"))
      labels = labels.join(adopted.withColumnRenamed("label", "__new"),
          Seq("id"), "left")
        .select(col("id"),
          coalesce(col("__new"), col("label")).as("label"))
        .localCheckpoint()
    }
    e.unpersist()
    labels
  }

  /** Semi-supervised label SPREADING: a small labeled seed set is
    * clamped, every other node adopts each round the most frequent
    * label among its CURRENTLY-labeled in-neighbors (ties to the
    * smallest label; no labeled neighbor → keep the previous state,
    * possibly unlabeled) — [[run]]'s transductive-classification
    * sibling, the standard "propagate the 10% you annotated across
    * the similarity graph" step over an ε-graph or k-NN graph.
    *
    * Same per-round plan as the community loop (one edge⋈labels join,
    * the min(struct(-cnt, label)) argmax, localCheckpoint) with a
    * NULL-aware twist: unlabeled nodes simply cast no votes, and the
    * clamp is a coalesce with the seed column — all-integer
    * semantics, so an unrolled SQL twin matches exactly.
    *
    * @param seeds (idCol, labelCol) — the annotated subset; ids not in
    *   the graph are ignored, and duplicate ids collapse to their
    *   SMALLEST label (one seed row per node, deterministically).
    * @return (id, label) for every node incident to an edge; label is
    *   NULL where no seed's influence arrived within `rounds`. */
  def spread(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, idCol: String, labelCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = GraphEdges.directed(edges, srcCol, dstCol).persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct()
    // one row per seed id: disagreeing duplicates would otherwise fan
    // the node into multiple label rows and double-count its votes
    val sd = seeds.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("long").as("__lbl"))
      .groupBy(col("id")).agg(min(col("__lbl")).as("__seed"))
    var labels = nodes.join(broadcast(sd), Seq("id"), "left")
      .select(col("id"), col("__seed"), col("__seed").as("label"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = e
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .filter(col("label").isNotNull) // unlabeled nodes cast no vote
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("m"))
        .select(col("dst").as("id"), col("m.l").as("__vote"))
      labels = labels.join(votes, Seq("id"), "left")
        .select(col("id"), col("__seed"),
          coalesce(col("__seed"), col("__vote"), col("label"))
            .as("label"))
        .localCheckpoint()
    }
    e.unpersist()
    labels.select(col("id"), col("label"))
  }
}
