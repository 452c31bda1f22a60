package graft.operators

/** The single-task DBSCAN kernel shared by the fused batch path
  * ([[Dbscan]] `localLabels`), each tile of the distributed path
  * ([[Dbscan]] `tileKernel`) and the incremental state build
  * ([[IncrDbscanLocal]]): the shared-memory analog of one PDSDBSCAN-D
  * rank's local phase (`dbscan.cpp:720-788`: local neighbor search,
  * core test, local REMS union-find). Construction runs two
  * thread-parallel passes ([[InTask.parallelFor]]):
  *  1. ε-neighbor counts, self excluded, and the self-inclusive `>=`
  *     core test (`dbscan.cpp:739`);
  *  2. a lock-free union-find over core-core ε-edges, then the
  *     canonical component label = min core id of each component (the
  *     distributed CC's rule).
  * Callers attach borders with [[forEachCoreNeighbor]].
  *
  * Neighbor search is a grid over `bucketDims` with the distributed
  * ε-join's cell function, `floor(coord/ε)` per dim; a point's
  * candidates are the points in the 3^k cells around its own. k = 0
  * is one cell: a brute-force n² scan. The grid is resolved once per
  * kernel ([[LocalDbscan.Grid]]): each point gets a dense cell id, with
  * exact cell identity (cells never share an id by hash), and each
  * occupied cell its occupied neighbor cells, so a scan walks int
  * arrays only, with no key built and no map lookup. The count pass
  * keeps each non-core's neighbors (at most `minPts − 2` of them, so
  * at most n·(minPts − 2) ints), and [[forEachCoreNeighbor]] filters
  * that list instead of scanning a non-core again. A kd-tree over all
  * dims was tried in place of the grid and rejected: it matched the
  * grid on 5-d points but ran 4–5× slower on the 64-d sf0.1
  * embeddings (≈ 550 ms vs ≈ 115 ms per kernel on 4 threads), where
  * no index prunes and the tree's traversal is pure overhead.
  *
  * Every value the kernel produces is an id, a count or a min id, and
  * the only float work is the ε predicate [[within]], so the results
  * are bit-identical to the distributed pipeline's whatever the thread
  * interleaving.
  *
  * Unique ids are a precondition. The distributed ε self-join keys on
  * id and excludes `a_id = b_id`, so a duplicate would silently change
  * counts and labels here instead of matching that path: the
  * constructor fails on it. */
private[operators] final class LocalDbscan(ids: Array[Long],
    vecs: Array[Array[Float]], eps: Double, minPts: Int,
    bucketDims: Array[Int]) {

  val n: Int = ids.length

  locally {
    val sorted = ids.clone(); java.util.Arrays.sort(sorted)
    var j = 1
    while (j < n) {
      require(sorted(j) != sorted(j - 1),
        s"fused DBSCAN requires unique point ids, got duplicate ${sorted(j)}")
      j += 1
    }
  }

  private val eps2 = eps * eps

  /** Plain full fold, deliberately WITHOUT the reference's early exit
    * (`kdtree2.cpp:620-630`): measured on the 64-dim embedding
    * workloads, both per-element and 16-blocked exit variants ran ~2x
    * SLOWER here — the branchless loop inlines and unrolls better under
    * HotSpot, and with ε near the nearest-pair distance the exit fires
    * too late to pay for itself. (The DISTRIBUTED ε-join's codegen'd
    * predicate `functions.WithinEps` does early-exit — measured mildly
    * positive there; both fold left to right in double.) */
  private def within(a: Array[Float], b: Array[Float]): Boolean = {
    val m = math.min(a.length, b.length)
    var acc = 0.0
    var j = 0
    while (j < m) {
      val d = a(j).toDouble - b(j).toDouble
      acc += d * d
      j += 1
    }
    acc <= eps2
  }

  // the ε-grid, resolved once: point p lies in dense cell cell(p), the
  // points of cell c are members(start(c) until start(c + 1)) in
  // ascending order, and near(c) lists c's occupied neighbor cells
  private val grid = LocalDbscan.Grid(vecs, eps, bucketDims)
  import grid.{cell, members, near, start}

  /** ε-neighbor count of each point, self excluded. */
  val counts: Array[Int] = new Array[Int](n)

  /** Core test, self included: `counts + 1 >= minPts`. */
  val isCore: Array[Boolean] = new Array[Boolean](n)

  /** Each non-core's ε-neighbors, in scan order; null for a core, and
    * for every point when `minPts − 2 > MaxKept`. */
  private val kept = new Array[Array[Int]](n)

  /** Call `f(q)` for every `q != p` within ε of `p` with `q >= from`
    * and, if `coresOnly`, `isCore(q)`; if `unlinked`, skip each `q`
    * the union-find already joins to `p`. These checks run BEFORE the
    * distance fold, so a filtered candidate costs no fold. */
  private def scan(p: Int, from: Int, coresOnly: Boolean,
      unlinked: Boolean = false)(f: Int => Unit): Unit = {
    val vp = vecs(p)
    val cells = near(cell(p))
    // a root p had, maybe stale since: a node that stops being a root
    // never becomes one again, so when q's root is rp, p and q share a
    // tree and their edge adds nothing
    var rp = if (unlinked) root(p) else -1
    var ci = 0
    while (ci < cells.length) {
      val c = cells(ci)
      var bi = start(c)
      val end = start(c + 1)
      while (bi < end) {
        val q = members(bi)
        if (q >= from && q != p && (!coresOnly || isCore(q)) &&
            (!unlinked || root(q) != rp) && within(vp, vecs(q))) {
          f(q)
          if (unlinked) rp = root(p)
        }
        bi += 1
      }
      ci += 1
    }
  }

  locally {
    // a non-core has at most minPts − 2 neighbors: keep them on the way
    val cap = minPts - 2L
    val keep = cap >= 0 && cap <= LocalDbscan.MaxKept
    val scratch = ThreadLocal.withInitial[Array[Int]](() =>
      new Array[Int](if (keep) cap.toInt else 0))
    InTask.parallelFor(n) { p =>
      val buf = scratch.get
      var c = 0
      scan(p, 0, coresOnly = false) { q =>
        if (c < buf.length) buf(c) = q
        c += 1
      }
      counts(p) = c
      isCore(p) = c + 1 >= minPts
      if (keep && !isCore(p)) kept(p) = java.util.Arrays.copyOf(buf, c)
    }
  }

  // lock-free union-find over core-core edges (CAS on roots — Rem's-
  // style concurrent UF, the shared-memory analog of the reference's
  // REMS loop, `dbscan.cpp:764-788`); the final partition is the
  // connectivity closure, independent of interleaving
  private val parent = new java.util.concurrent.atomic.AtomicIntegerArray(n)

  private def find(x: Int): Int = {
    var r = x
    var p = parent.get(r)
    while (p != r) {
      val gp = parent.get(p)
      parent.compareAndSet(r, p, gp) // path halving; failure is benign
      r = gp
      p = parent.get(r)
    }
    r
  }

  /** `x`'s current root, read only: no path halving, no CAS. */
  private def root(x: Int): Int = {
    var r = x
    var p = parent.get(r)
    while (p != r) { r = p; p = parent.get(r) }
    r
  }

  private def union(x: Int, y: Int): Unit = {
    var a = x; var b = y
    while (true) {
      a = find(a); b = find(b)
      if (a == b) return
      // always hang the larger root under the smaller: roots only ever
      // decrease, so the CAS-on-root linearizes concurrent unions
      val lo = math.min(a, b); val hi = math.max(a, b)
      if (parent.compareAndSet(hi, hi, lo)) return
    }
  }

  /** Min core id of each core's component; unset for non-cores. */
  val comp: Array[Long] = new Array[Long](n)

  locally {
    var i = 0
    while (i < n) { parent.set(i, i); i += 1 }
    InTask.parallelFor(n) { p =>
      // q > p: each undirected edge once; a pair the union-find already
      // joins is skipped before its distance fold
      if (isCore(p))
        scan(p, p + 1, coresOnly = true, unlinked = true)(q => union(p, q))
    }
    val rootMin = Array.fill(n)(Long.MaxValue)
    i = 0
    while (i < n) {
      if (isCore(i)) {
        val r = find(i)
        if (ids(i) < rootMin(r)) rootMin(r) = ids(i)
      }
      i += 1
    }
    i = 0
    while (i < n) {
      if (isCore(i)) comp(i) = rootMin(find(i))
      i += 1
    }
  }

  /** Visit every core within ε of `p`, `p` itself excluded: the input
    * of each caller's border pass. Safe to call from parallel threads. */
  def forEachCoreNeighbor(p: Int)(f: Int => Unit): Unit = {
    val ns = kept(p)
    if (ns == null) scan(p, 0, coresOnly = true)(f)
    else {
      var i = 0
      while (i < ns.length) {
        if (isCore(ns(i))) f(ns(i))
        i += 1
      }
    }
  }
}

private[operators] object LocalDbscan {

  /** Non-core neighbor lists are kept while `minPts − 2` is at most this:
    * n × MaxKept ints at worst. Above it the border pass rescans. */
  val MaxKept = 256

  /** A grid resolved to int arrays (see [[Grid.apply]]). */
  final class Grid(val cell: Array[Int], val start: Array[Int],
      val members: Array[Int], val near: Array[Array[Int]])

  object Grid {

    /** The ε-grid over `dims`: cell coordinate `floor(coord/ε)` per dim,
      * exact (two cells share an id only when every coordinate agrees).
      * Cells get dense ids in order of their first point; each point's
      * cell id, each cell's points in ascending order, and each
      * occupied cell's occupied neighbor cells (itself included) in
      * [[EpsilonJoin.offsets]] order. No dims is one cell. */
    def apply(vecs: Array[Array[Float]], eps: Double,
        dims: Array[Int]): Grid = {
      val n = vecs.length
      val k = dims.length
      val key = new Array[Long](n * k) // point i's cell: key(i*k until i*k + k)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < k) {
          key(i * k + j) = math.floor(vecs(i)(dims(j)).toDouble / eps).toLong
          j += 1
        }
        i += 1
      }
      // open addressing over the cell keys; a slot holds a cell id, a
      // cell's key is that of its first point rep(c)
      val mask = Integer.highestOneBit(math.max(2 * n, 2) - 1) * 2 - 1
      val slots = Array.fill(mask + 1)(-1)
      val rep = new Array[Int](n)
      def sameKey(at: Int, src: Array[Long], off: Int): Boolean = {
        var j = 0
        while (j < k && key(at + j) == src(off + j)) j += 1
        j == k
      }
      def slotOf(src: Array[Long], off: Int): Int = {
        var h = 0x9E3779B97F4A7C15L
        var j = 0
        while (j < k) {
          h = (h ^ src(off + j)) * 0xBF58476D1CE4E5B9L
          h ^= h >>> 31
          j += 1
        }
        var s = (h ^ (h >>> 32)).toInt & mask
        while (slots(s) >= 0 && !sameKey(rep(slots(s)) * k, src, off))
          s = (s + 1) & mask
        s
      }
      val cell = new Array[Int](n)
      var cells = 0
      i = 0
      while (i < n) {
        val s = slotOf(key, i * k)
        if (slots(s) < 0) { slots(s) = cells; rep(cells) = i; cells += 1 }
        cell(i) = slots(s)
        i += 1
      }
      // counting sort: each cell's points, ascending
      val start = new Array[Int](cells + 1)
      i = 0
      while (i < n) { start(cell(i) + 1) += 1; i += 1 }
      var c = 0
      while (c < cells) { start(c + 1) += start(c); c += 1 }
      val fill = java.util.Arrays.copyOf(start, cells)
      val members = new Array[Int](n)
      i = 0
      while (i < n) {
        members(fill(cell(i))) = i
        fill(cell(i)) += 1
        i += 1
      }
      val offs = EpsilonJoin.offsets(k).map(_.toArray).toArray
      val near = new Array[Array[Int]](cells)
      InTask.parallelFor(cells) { c =>
        val probe = new Array[Long](k)
        val buf = new Array[Int](offs.length)
        var m = 0
        var oi = 0
        while (oi < offs.length) {
          var j = 0
          while (j < k) {
            probe(j) = key(rep(c) * k + j) + offs(oi)(j)
            j += 1
          }
          val s = slotOf(probe, 0)
          if (slots(s) >= 0) { buf(m) = slots(s); m += 1 }
          oi += 1
        }
        near(c) = java.util.Arrays.copyOf(buf, m)
      }
      new Grid(cell, start, members, near)
    }
  }
}
