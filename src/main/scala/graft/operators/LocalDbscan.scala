package graft.operators

import scala.collection.mutable

/** The single-task DBSCAN kernel shared by the fused batch path
  * ([[Dbscan]] `localLabels`) and the fused incremental state build
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
  * is one cell: a brute-force n² scan. Every value the kernel produces
  * is an id, a count or a min id, and the only float work is the ε
  * predicate [[within]], so the results are bit-identical to the
  * distributed pipeline's whatever the thread interleaving.
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
  private val k = bucketDims.length

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

  private def cellOf(v: Array[Float]): Vector[Long] = {
    val c = new Array[Long](k)
    var j = 0
    while (j < k) {
      c(j) = math.floor(v(bucketDims(j)).toDouble / eps).toLong
      j += 1
    }
    c.toVector
  }

  /** cell → point indices, ascending */
  private val grid: mutable.HashMap[Vector[Long], Array[Int]] = {
    val cells = mutable.HashMap.empty[Vector[Long], mutable.ArrayBuilder.ofInt]
    var i = 0
    while (i < n) {
      cells.getOrElseUpdate(cellOf(vecs(i)), new mutable.ArrayBuilder.ofInt) += i
      i += 1
    }
    cells.map { case (c, b) => c -> b.result() }
  }
  private val offs = EpsilonJoin.offsets(k).map(_.toArray).toArray
  private val NoPoints = Array.emptyIntArray

  /** ε-neighbor count of each point, self excluded. */
  val counts: Array[Int] = new Array[Int](n)

  /** Core test, self included: `counts + 1 >= minPts`. */
  val isCore: Array[Boolean] = new Array[Boolean](n)

  /** Call `f(q)` for every `q != p` within ε of `p` with `q >= from`
    * and, if `coresOnly`, `isCore(q)`. The index and core checks run
    * BEFORE the distance fold, so a filtered candidate costs no fold. */
  private def scan(p: Int, from: Int, coresOnly: Boolean)(
      f: Int => Unit): Unit = {
    val vp = vecs(p)
    val home = cellOf(vp)
    var oi = 0
    while (oi < offs.length) {
      val off = offs(oi)
      val bucket = grid.getOrElse(Vector.tabulate(k)(j => home(j) + off(j)),
        NoPoints)
      var bi = 0
      while (bi < bucket.length) {
        val q = bucket(bi)
        if (q >= from && q != p && (!coresOnly || isCore(q)) &&
            within(vp, vecs(q))) f(q)
        bi += 1
      }
      oi += 1
    }
  }

  InTask.parallelFor(n) { p =>
    var c = 0
    scan(p, 0, coresOnly = false)(_ => c += 1)
    counts(p) = c
    isCore(p) = c + 1 >= minPts
  }

  /** Min core id of each core's component; unset for non-cores. */
  val comp: Array[Long] = new Array[Long](n)

  locally {
    // lock-free union-find over core-core edges (CAS on roots — Rem's-
    // style concurrent UF, the shared-memory analog of the reference's
    // REMS loop, `dbscan.cpp:764-788`); the final partition is the
    // connectivity closure, independent of interleaving
    val parent = new java.util.concurrent.atomic.AtomicIntegerArray(n)
    var i = 0
    while (i < n) { parent.set(i, i); i += 1 }
    def find(x: Int): Int = {
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
    def union(x: Int, y: Int): Unit = {
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
    InTask.parallelFor(n) { p =>
      // q > p: each undirected edge once
      if (isCore(p)) scan(p, p + 1, coresOnly = true)(q => union(p, q))
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
  def forEachCoreNeighbor(p: Int)(f: Int => Unit): Unit =
    scan(p, 0, coresOnly = true)(f)
}
