package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Synchronous label propagation (community detection): every node
  * starts as its own label; each round all nodes SIMULTANEOUSLY adopt
  * the most frequent label among their in-neighbors (ties to the
  * smallest label). The deterministic, oracle-checkable variant of LPA
  * — asynchronous LPA's result depends on visit order, which no SQL
  * twin could reproduce; synchronous rounds are a pure dataflow.
  *
  * The fourth member of the iterate-to-fixpoint family (CC, PageRank,
  * BFS/SSSP). Scale shape: one per-node update, [[adopt]] (label
  * counts over the in-neighbours, the (count DESC, label ASC) winner).
  * At or below `localThreshold` edge rows it runs over CSR arrays in
  * ONE task; above it, per vertex block of [[GraphRounds]]: one
  * exchange of the owned vertices' labels per round, every round
  * chained into one job whose output is checkpointed once. Nodes with
  * no in-edges keep their current label.
  */
object LabelProp {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", LongType, nullable = false)))

  /** @param edges directed (labels flow src → dst); pass both
    *   orientations for an undirected graph. Duplicates collapse;
    *   edges with a NULL endpoint are dropped.
    * @param localThreshold max edge rows with no NULL endpoint, counted
    *   before duplicates drop, for the fused single-task path; 0 forces
    *   the distributed loop. All-integer semantics, so both paths return
    *   the same rows (spec-enforced) — only the route depends on it.
    * @return (id, label) after `rounds` synchronous rounds. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, localThreshold: Long = 5_000_000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // repeated edges collapse inside the tasks on either path
    val e = GraphEdges.longs(edges, srcCol -> "src", dstCol -> "dst")
    if (localThreshold > 0 &&
        Dispatch.fits("label-prop", e -> localThreshold)) runFused(e, rounds)
    else runDistributed(e, rounds)
  }

  /** One synchronous round, the update every path runs: each node that
    * is not `clamped` and has at least one labeled in-neighbour adopts
    * their most frequent label, ties to the smallest; every other node
    * keeps its state (a node with no in-edges too). `labeled == null`
    * means every node is labeled, `clamped == null` none is clamped.
    * @return the next (labels, labeled); `labeled` stays null. */
  private def adopt(g: LocalGraph, label: Array[Long],
      labeled: Array[Boolean],
      clamped: Array[Boolean]): (Array[Long], Array[Boolean]) = {
    val (off, in) = g.byDst
    val next = label.clone() // Jacobi: read `label`, write `next`
    val nextLabeled = if (labeled == null) null else labeled.clone()
    val counts = new java.util.HashMap[Long, Int]()
    var v = 0
    while (v < g.n) {
      if (off(v + 1) > off(v) && (clamped == null || !clamped(v))) {
        counts.clear()
        var bestL = Long.MaxValue
        var bestC = 0
        var j = off(v)
        while (j < off(v + 1)) {
          val u = in(j)
          if (labeled == null || labeled(u)) {
            val l = label(u)
            val c = counts.merge(l, 1, Integer.sum)
            if (c > bestC || (c == bestC && l < bestL)) {
              bestC = c; bestL = l
            }
          }
          j += 1
        }
        if (bestC > 0) {
          next(v) = bestL
          if (nextLabeled != null) nextLabeled(v) = true
        }
      }
      v += 1
    }
    (next, nextLabeled)
  }

  /** Small-graph path: [[adopt]] rounds over CSR-by-dst in ONE task. */
  private def runFused(e: DataFrame, rounds: Int): DataFrame =
    GraphEdges.local(e, outSchema) { g =>
      var label = g.ids.clone()
      for (_ <- 1 to rounds) label = adopt(g, label, null, null)._1
      Iterator.range(0, g.n).map(v => Row(g.ids(v), label(v)))
    }

  /** Cluster-scale path: [[adopt]] per vertex block of [[GraphRounds]];
    * every vertex sends its label each round. */
  private def runDistributed(e: DataFrame, rounds: Int): DataFrame = {
    val gr = GraphRounds(e, None, addSeeds = false)
    var label = gr.init(_.g.ids.clone())
    for (_ <- 1 to rounds)
      label = gr.round(label) { (b, l, emit) =>
        for (v <- l.indices if b.owned(v)) emit(v, l(v))
      } { (b, l, mix, vals) =>
        adopt(b.g, GraphRounds.received(l, mix, vals), null, null)._1
      }
    gr.finish(label, outSchema) { (b, l) =>
      Iterator.range(0, b.g.n).filter(b.owned(_))
        .map(v => Row(b.g.ids(v), l(v)))
    }
  }

  private val spreadSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", LongType, nullable = true)))

  /** Semi-supervised label SPREADING: a small labeled seed set is
    * clamped, every other node adopts each round the most frequent
    * label among its CURRENTLY-labeled in-neighbors (ties to the
    * smallest label; no labeled neighbor → keep the previous state,
    * possibly unlabeled) — [[run]]'s transductive-classification
    * sibling, the standard "propagate the 10% you annotated across
    * the similarity graph" step over an ε-graph or k-NN graph.
    *
    * The same [[adopt]] update as [[run]], NULL-aware: unlabeled nodes
    * cast no vote and seeds are clamped — all-integer semantics, so an
    * unrolled SQL twin matches exactly. It always runs on the vertex
    * blocks of [[GraphRounds]]; each round only labeled vertices send.
    *
    * @param seeds (idCol, labelCol) — the annotated subset; ids not in
    *   the graph and rows with a NULL id or label are ignored, and
    *   duplicate ids collapse to their SMALLEST label (one seed per
    *   node, deterministically).
    * @return (id, label) for every node incident to an edge; label is
    *   NULL where no seed's influence arrived within `rounds`. */
  def spread(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, idCol: String, labelCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val gr = GraphRounds(
      GraphEdges.longs(edges, srcCol -> "src", dstCol -> "dst"),
      Some(GraphEdges.longs(seeds, idCol -> "id", labelCol -> "label")),
      addSeeds = false)
    var state = gr.init { b =>
      val (label, labeled) = (new Array[Long](b.g.n),
        new Array[Boolean](b.g.n))
      for ((v, k) <- b.g.seeds.zipWithIndex) {
        label(v) = b.seedVal(k); labeled(v) = true
      }
      (label, labeled)
    }
    for (_ <- 1 to rounds)
      state = gr.round(state) { case (b, (l, has), emit) =>
        for (v <- l.indices if b.owned(v) && has(v)) emit(v, l(v))
      } { case (b, (l, has), mix, vals) =>
        val labeled = has.clone()
        mix.foreach(labeled(_) = true)
        val clamped = new Array[Boolean](b.g.n)
        b.g.seeds.foreach(clamped(_) = true)
        adopt(b.g, GraphRounds.received(l, mix, vals), labeled, clamped)
      }
    gr.finish(state, spreadSchema) { case (b, (l, has)) =>
      Iterator.range(0, b.g.n).filter(b.owned(_)).map(v =>
        Row(b.g.ids(v), if (has(v)) l(v) else null))
    }
  }
}
