package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** One vertex block of [[GraphRounds]]: block `p` owns the vertices
  * whose id hashes to `p` and holds their in-edges as a [[LocalGraph]]
  * over its local id table = owned vertices ∪ the sources of their
  * in-edges (the mirrors). Every edge's dst is owned here, so a mirror
  * that is not owned has no in-edge: its slot only holds the last value
  * its owner sent.
  *
  * @param owned per local vertex, whether this block owns it.
  * @param routeOff/route per owned vertex v, `route(routeOff(v) until
  *   routeOff(v + 1))` = the OTHER blocks holding one of its out-edges.
  * @param seedVal per `g.seeds` entry, the seed's value (the smallest
  *   one sent for its id). */
private[operators] final class VertexBlock(val g: LocalGraph,
    val owned: Array[Boolean], val routeOff: Array[Int],
    val route: Array[Int], val seedVal: Array[Long]) extends Serializable

/** The partition-local round engine the distributed BSP graph loops run
  * on (Pregel's shape, and the reference's: each rank works on its own
  * partition, then trades boundary facts, `dbscan.cpp:847-1012`).
  *
  *  - Build ([[GraphRounds.apply]], one shuffle): the edges are hashed
  *    by the owner block of `dst` into B cached [[VertexBlock]]s,
  *    B = `spark.sql.shuffle.partitions`; each cross-block edge also
  *    sends `(src, block)` to the owner of `src`, which makes its
  *    routing list. Every copy of an edge lands in the same block, so
  *    repeated edges collapse there exactly ([[LocalGraph.apply]]);
  *    each input partition drops its own repeats before the shuffle.
  *  - Round ([[round]], one shuffle): each block ships the packed
  *    `(ids, values)` its operator picks among its owned vertices, each
  *    only to the blocks on the vertex's routing list; the receiving
  *    block writes them into its mirror slots and runs the operator's
  *    per-vertex update over its [[LocalGraph]] — the same update the
  *    fused single-task path runs over the whole graph.
  *  - Rounds chain lazily; [[finish]] runs the ONE job that builds the
  *    blocks, runs every round and checkpoints the output rows, then
  *    releases the blocks and every round's state.
  *
  * A round's state is one `S` per block, over its local ids; each is
  * cached because the next round reads it twice (to send, to update). */
private[operators] final class GraphRounds private (spark: SparkSession,
    blocks: RDD[VertexBlock], parts: Int) {

  private val done = mutable.ArrayBuffer[RDD[_]](blocks)

  private def keep[S](rdd: RDD[S]): RDD[S] = {
    done += rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The state before round 1. */
  def init[S: ClassTag](f: VertexBlock => S): RDD[S] = keep(blocks.map(f))

  /** One round. `send(b, s, emit)` calls `emit(v, value)` for each owned
    * vertex v whose value goes out; `step(b, s, mix, vals)` gets the
    * received values `vals` at local indices `mix` and returns the next
    * state. Neither may mutate `s`: it is cached. */
  def round[S: ClassTag](state: RDD[S])(
      send: (VertexBlock, S, (Int, Long) => Unit) => Unit)(
      step: (VertexBlock, S, Array[Int], Array[Long]) => S): RDD[S] = {
    val parts = this.parts
    val msgs = blocks.zipPartitions(state) { (bit, sit) =>
      val b = bit.next()
      val ids = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
      val vals = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
      send(b, sit.next(), (v, x) => {
        var j = b.routeOff(v)
        while (j < b.routeOff(v + 1)) {
          ids(b.route(j)) += b.g.ids(v); vals(b.route(j)) += x; j += 1
        }
      })
      Iterator.range(0, parts).filter(ids(_).length > 0)
        .map(q => (q, (ids(q).result(), vals(q).result())))
    }.partitionBy(new HashPartitioner(parts)).values
    keep(blocks.zipPartitions(state, msgs) { (bit, sit, mit) =>
      val b = bit.next()
      val mix = new mutable.ArrayBuilder.ofInt
      val mv = new mutable.ArrayBuilder.ofLong
      for ((ids, vals) <- mit) {
        var k = 0
        while (k < ids.length) {
          mix += java.util.Arrays.binarySearch(b.g.ids, ids(k))
          mv += vals(k)
          k += 1
        }
      }
      Iterator(step(b, sit.next(), mix.result(), mv.result()))
    })
  }

  /** Runs the loop: `rows(b, s)` of every block's final state,
    * checkpointed; then releases every cache. */
  def finish[S: ClassTag](state: RDD[S], schema: StructType)(
      rows: (VertexBlock, S) => Iterator[Row]): DataFrame =
    try ConnectedComponents.withJobDesc(spark.sparkContext, "graph: rounds") {
      spark.createDataFrame(blocks.zipPartitions(state) {
        (bit, sit) => rows(bit.next(), sit.next())
      }, schema).localCheckpoint()
    } finally done.foreach(_.unpersist())
}

private[operators] object GraphRounds {

  /** Builds the (lazy, cached) blocks of the edge table `e`: long
    * (src, dst) and optionally a long weight, by position; repeated
    * edges count once, parallel weighted ones at their least weight.
    *
    * @param seeds (id, value) rows; an id's smallest value becomes its
    *   seed value ([[VertexBlock.seedVal]]).
    * @param addSeeds whether seed ids join the vertex set even when no
    *   edge touches them; otherwise seeds that are no vertex drop out. */
  def apply(e: DataFrame, seeds: Option[DataFrame],
      addSeeds: Boolean): GraphRounds =
    ConnectedComponents.withJobDesc(e, "graph: blocks") {
      val parts = e.sparkSession.sessionState.conf.numShufflePartitions
      val at = new HashPartitioner(parts)
      val stride = e.columns.length
      // per target block: packed edges, (src, block) routes, seeds
      def packed(out: Array[mutable.ArrayBuilder.ofLong]) =
        Iterator.range(0, parts)
          .filter(q => (0 until 3).exists(k => out(3 * q + k).length > 0))
          .map(q => (q, (out(3 * q).result(), out(3 * q + 1).result(),
            out(3 * q + 2).result())))
      val fromEdges = e.queryExecution.toRdd.mapPartitions { it =>
        val (sb, db, wb) = (new mutable.ArrayBuilder.ofLong,
          new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
        it.foreach { r =>
          sb += r.getLong(0); db += r.getLong(1)
          if (stride == 3) wb += r.getLong(2)
        }
        val (src, dst, w) =
          LocalGraph.distinctEdges(sb.result(), db.result(), wb.result())
        val out = Array.fill(3 * parts)(new mutable.ArrayBuilder.ofLong)
        val (from, to) = (new mutable.ArrayBuilder.ofLong,
          new mutable.ArrayBuilder.ofLong)
        for (i <- src.indices) {
          val q = at.getPartition(dst(i))
          out(3 * q) += src(i) += dst(i)
          if (stride == 3) out(3 * q) += w(i)
          if (at.getPartition(src(i)) != q) { from += src(i); to += q }
        }
        val (rs, rq, _) = LocalGraph.distinctEdges(from.result(),
          to.result(), Array.emptyLongArray)
        for (k <- rs.indices)
          out(3 * at.getPartition(rs(k)) + 1) += rs(k) += rq(k)
        packed(out)
      }
      val all = seeds.fold(fromEdges)(s => fromEdges.union(
        s.queryExecution.toRdd.mapPartitions { it =>
          val out = Array.fill(3 * parts)(new mutable.ArrayBuilder.ofLong)
          it.foreach(r => out(3 * at.getPartition(r.getLong(0)) + 2) +=
            r.getLong(0) += r.getLong(1))
          packed(out)
        }))
      val blocks = all.partitionBy(at).values.mapPartitionsWithIndex {
        (p, it) => Iterator(block(p, at, stride, addSeeds, it))
      }
      new GraphRounds(e.sparkSession,
        blocks.persist(StorageLevel.MEMORY_AND_DISK), parts)
    }

  private def block(p: Int, at: HashPartitioner, stride: Int,
      addSeeds: Boolean,
      msgs: Iterator[(Array[Long], Array[Long], Array[Long])])
      : VertexBlock = {
    val (eb, rb, sb) = (new mutable.ArrayBuilder.ofLong,
      new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
    msgs.foreach { case (es, rs, ss) =>
      eb.addAll(es); rb.addAll(rs); sb.addAll(ss)
    }
    val (es, rs, ss) = (eb.result(), rb.result(), sb.result())
    val m = es.length / stride
    def col(c: Int) = Array.tabulate(m)(i => es(i * stride + c))
    val seedBest = new mutable.LongMap[Long]
    var i = 0
    while (i < ss.length) {
      val (id, x) = (ss(i), ss(i + 1))
      if (seedBest.getOrElse(id, Long.MaxValue) >= x) seedBest(id) = x
      i += 2
    }
    val seedId = seedBest.keys.toArray.sorted
    val routed = Array.tabulate(rs.length / 2)(k => rs(2 * k))
    val g = LocalGraph(col(0), col(1),
      if (stride == 3) col(2) else Array.emptyLongArray,
      if (addSeeds) routed ++ seedId else routed, seedId)
    val owned = g.ids.map(at.getPartition(_) == p)
    // routing lists: (source, block) pairs grouped by source, deduped
    val (off, to) = g.csr(
      routed.map(java.util.Arrays.binarySearch(g.ids, _)),
      Array.tabulate(routed.length)(k => rs(2 * k + 1).toInt))
    val routeOff = new Array[Int](g.n + 1)
    val route = new mutable.ArrayBuilder.ofInt
    for (v <- 0 until g.n) {
      java.util.Arrays.sort(to, off(v), off(v + 1))
      for (j <- off(v) until off(v + 1)
           if j == off(v) || to(j) != to(j - 1)) route += to(j)
      routeOff(v + 1) = route.length
    }
    new VertexBlock(g, owned, routeOff, route.result(),
      g.seeds.map(v => seedBest(g.ids(v))))
  }

  /** `cur` with the received values written into their slots: a copy,
    * the cached state stays as it was. */
  def received(cur: Array[Long], mix: Array[Int],
      vals: Array[Long]): Array[Long] = {
    val next = cur.clone()
    var k = 0
    while (k < mix.length) { next(mix(k)) = vals(k); k += 1 }
    next
  }
}
