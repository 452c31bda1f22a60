package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared edge normalization and the one-task compact graph for the
  * graph operators — one definition of "the same graph":
  *  - [[longs]]: columns cast to long, rows with a NULL dropped — an
  *    edge with a NULL endpoint or weight, or a NULL seed id, is no
  *    edge and no seed on any path;
  *  - [[directed]]: the distinct (src, dst) long edge set;
  *  - [[canonical]]: (a < b) deduplicated loop-free undirected pairs,
  *    and [[symmetrize]], the two-orientation view that degree
  *    aggregates run on. NOTE `least`/`greatest` skip NULLs, so an edge
  *    with one NULL endpoint degenerates to a self-loop (a = b) and is
  *    dropped — the desired semantics for dirty edge lists, encoded
  *    here exactly once;
  *  - [[local]]: the fused small-graph layout every operator's
  *    single-task path runs on ([[LocalGraph]]).
  */
object GraphEdges {

  /** `cols` (column -> name) cast to long, rows with any NULL dropped. */
  def longs(df: DataFrame, cols: (String, String)*): DataFrame =
    df.select(cols.map { case (c, as) => col(c).cast("long").as(as) }: _*)
      .na.drop()

  /** (src, dst) as longs, duplicates and NULL endpoints dropped. */
  def directed(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    longs(edges, srcCol -> "src", dstCol -> "dst").distinct()

  /** (a, b) with a < b, duplicates and self-loops dropped. */
  def canonical(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val a = col(srcCol).cast("long"); val b = col(dstCol).cast("long")
    edges
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Both orientations of a [[canonical]] edge set, as (src, dst) —
    * degree = a plain `groupBy(src).count` afterwards. The explode of a
    * 2-element array (not a union) evaluates the input subtree once. */
  def symmetrize(canon: DataFrame): DataFrame =
    canon
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))

  /** Small-graph path shared by every graph operator: the whole edge
    * set is read into ONE task, compacted into a [[LocalGraph]], and
    * `kernel` runs its iteration over it — zero further shuffles, none
    * of the per-round job latency that dominates small graphs.
    *
    * @param e edges; by position, long endpoints (src, dst) and
    *   optionally a long weight as a third column. Repeated edges
    *   collapse inside the task ([[LocalGraph.apply]]).
    * @param seeds optional one-column table of extra node ids (`id`):
    *   they ride in-band with the edges (flagged rows, so the one task
    *   sees both inputs without a join) and join the node table even
    *   when no edge touches them.
    * @return `kernel`'s rows; no rows when the graph has no node. */
  def local(e: DataFrame, schema: StructType,
      seeds: Option[DataFrame] = None)(
      kernel: LocalGraph => Iterator[Row]): DataFrame = {
    val weighted = e.columns.length == 3
    val seeded = seeds.isDefined
    val flag = e.columns.length // position of the seed flag, if any
    val rows = seeds.fold(e) { s =>
      val pad = Seq.fill(flag - 1)(lit(0L)) // dst[, w] of a seed row
      e.select(e.columns.toSeq.map(col) :+ lit(false): _*)
        .unionAll(s.select(col("id") +: pad :+ lit(true): _*))
    }
    rows.coalesce(1).mapPartitions { it =>
      // primitive columns only — at a 5M-edge threshold a boxed
      // tuple/map representation would cost hundreds of bytes per edge
      val sb = new scala.collection.mutable.ArrayBuilder.ofLong
      val db = new scala.collection.mutable.ArrayBuilder.ofLong
      val wb = new scala.collection.mutable.ArrayBuilder.ofLong
      val seedB = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r =>
        if (seeded && r.getBoolean(flag)) seedB += r.getLong(0)
        else {
          sb += r.getLong(0); db += r.getLong(1)
          if (weighted) wb += r.getLong(2)
        }
      }
      val seedId = seedB.result()
      val g = LocalGraph(sb.result(), db.result(), wb.result(), seedId,
        seedId)
      if (g.n == 0) Iterator.empty else kernel(g)
    }(Encoders.row(schema))
  }
}

/** A graph compacted inside one task: node `ids` sorted and distinct,
  * edge `i` = `src(i)` → `dst(i)` as indices into `ids`, `w(i)` its
  * weight (empty for an unweighted edge set), `seeds` the indices of
  * the extra node ids handed to [[GraphEdges.local]]. A vertex block
  * of [[GraphRounds]] is one too, over its local id table. */
final class LocalGraph(val ids: Array[Long], val src: Array[Int],
    val dst: Array[Int], val w: Array[Long], val seeds: Array[Int])
    extends Serializable {

  def n: Int = ids.length
  def m: Int = src.length

  /** CSR adjacency of the edge list `from`/`to` (any one over these
    * nodes) grouped by `from`, by a counting sort:
    * node v's edges occupy `off(v) until off(v + 1)` of `adj`, which
    * holds their `to` endpoints in edge order. */
  def csr(from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val m = from.length
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < m) { off(from(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](m)
    val cursor = off.clone()
    i = 0
    while (i < m) {
      adj(cursor(from(i))) = to(i); cursor(from(i)) += 1; i += 1
    }
    (off, adj)
  }

  /** In-neighbours by node, `csr(dst, src)`, built once per graph. */
  lazy val byDst: (Array[Int], Array[Int]) = csr(dst, src)

  /** Out-neighbours by node, `csr(src, dst)`, built once per graph. */
  lazy val bySrc: (Array[Int], Array[Int]) = csr(src, dst)
}

object LocalGraph {

  /** Compacts long edge endpoints: repeated edges dropped
    * ([[distinctEdges]]), nodes = src ∪ dst ∪ `extra`, sorted and
    * distinct, id → index by binary search (never a boxed map);
    * `seeds` = the indices of `seedId`, ids that are no node dropped. */
  def apply(rawSrc: Array[Long], rawDst: Array[Long], rawW: Array[Long],
      extra: Array[Long], seedId: Array[Long]): LocalGraph = {
    val (srcId, dstId, w) = distinctEdges(rawSrc, rawDst, rawW)
    val m = srcId.length
    val all = new Array[Long](2 * m + extra.length)
    System.arraycopy(srcId, 0, all, 0, m)
    System.arraycopy(dstId, 0, all, m, m)
    System.arraycopy(extra, 0, all, 2 * m, extra.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    def index(xs: Array[Long]): Array[Int] = {
      val ix = new Array[Int](xs.length)
      var j = 0
      while (j < xs.length) {
        ix(j) = java.util.Arrays.binarySearch(ids, xs(j)); j += 1
      }
      ix
    }
    new LocalGraph(ids, index(srcId), index(dstId), w,
      index(seedId).filter(_ >= 0))
  }

  /** The edge list with each repeated (src, dst) edge dropped: the first
    * copy stays in place, and in a weighted list (`w` nonEmpty) it takes
    * the least weight among its copies — the only one a min-plus
    * relaxation can use. Input with no repeat comes back as the same
    * arrays, arrival order included, so kernels whose float sums follow
    * edge order keep their bits. One open-addressing table of edge
    * indices; primitive arrays only. */
  def distinctEdges(src: Array[Long], dst: Array[Long],
      w: Array[Long]): (Array[Long], Array[Long], Array[Long]) = {
    val m = src.length
    val weighted = w.nonEmpty
    val mask = Integer.highestOneBit(math.max(2 * m, 2)) * 2 - 1
    val table = Array.fill(mask + 1)(-1)
    val keep = new Array[Boolean](m)
    var least = w
    var kept = 0
    var i = 0
    while (i < m) {
      var x = src(i) * 0x9E3779B97F4A7C15L ^ dst(i)
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      var h = (x ^ (x >>> 33)).toInt & mask
      while (table(h) >= 0 &&
          (src(table(h)) != src(i) || dst(table(h)) != dst(i)))
        h = (h + 1) & mask
      val j = table(h)
      if (j < 0) { table(h) = i; keep(i) = true; kept += 1 }
      else if (weighted && w(i) < least(j)) {
        if (least eq w) least = w.clone()
        least(j) = w(i)
      }
      i += 1
    }
    if (kept == m) return (src, dst, w)
    val (s, d) = (new Array[Long](kept), new Array[Long](kept))
    val lw = if (weighted) new Array[Long](kept) else Array.emptyLongArray
    var k = 0
    i = 0
    while (i < m) {
      if (keep(i)) {
        s(k) = src(i); d(k) = dst(i)
        if (weighted) lw(k) = least(i)
        k += 1
      }
      i += 1
    }
    (s, d, lw)
  }
}
