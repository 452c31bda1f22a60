package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[LocalDbscan]] against an O(n²) brute-force reference: neighbor
  * counts, core flags, min-id components and the cores
  * `forEachCoreNeighbor` visits, for cores and non-cores, over 0-3
  * bucket dims and minPts from 1 to above the kept-list cap; plus the
  * grid's exact cell identity, down to cell indices past ±2^21. */
class LocalDbscanKernelSpec extends AnyFunSuite {

  private val MinPts = Seq(1, 2, 5, 20, LocalDbscan.MaxKept + 3)
  private val DimSets = Seq(Array.empty[Int], Array(1), Array(0, 2),
    Array(2, 0, 1))

  /** `n` points of `d` dims: Gaussian blobs of spread `sd` around
    * `centers` (one per dim vector) plus 10 % uniform noise over the
    * centers' box widened by 5. */
  private def blobs(seed: Long, n: Int, d: Int, centers: Seq[Double],
      sd: Double): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val (lo, hi) = (centers.min - 5, centers.max + 5)
    Array.fill(n) {
      if (rnd.nextDouble() < 0.1)
        Array.fill(d)((lo + rnd.nextDouble() * (hi - lo)).toFloat)
      else {
        val c = centers(rnd.nextInt(centers.length))
        Array.fill(d)((c + rnd.nextGaussian() * sd).toFloat)
      }
    }
  }

  /** (name, vectors, ε); 700 points run the kernel's passes threaded. */
  private val fixtures: Seq[(String, Array[Array[Float]], Double)] = Seq(
    ("empty", Array.empty[Array[Float]], 1.0),
    ("one point", Array(Array(0.5f, -0.5f, 2f)), 1.0),
    ("blobs", blobs(1, 700, 4, Seq(0.0, 6.0, 9.0), 1.2), 1.0),
    ("negative coordinates", blobs(2, 700, 4, Seq(-40.0, -33.5), 1.5), 1.0),
    // every coordinate a multiple of ε = 0.5: cell edges, pairs at
    // exactly ε
    ("coordinates on multiples of ε", {
      val rnd = new scala.util.Random(3)
      Array.fill(700)(Array.fill(3)((rnd.nextInt(13) - 6) * 0.5f))
    }, 0.5),
    // cell indices near ±3·2^20 and ±2^22: a key that packs 21 bits per
    // dim would wrap
    ("cell indices beyond ±2^21",
      blobs(4, 700, 3, Seq(-4194304.0, -3145728.0, 0.0, 3145728.0,
        4194304.0), 1.5), 1.0))

  private def within(a: Array[Float], b: Array[Float], eps2: Double) = {
    var acc = 0.0
    var j = 0
    while (j < math.min(a.length, b.length)) {
      val t = a(j).toDouble - b(j).toDouble
      acc += t * t
      j += 1
    }
    acc <= eps2
  }

  private def ids(n: Int, seed: Long): Array[Long] =
    new scala.util.Random(seed).shuffle((0 until n).map(i =>
      (i - n / 2).toLong * 1000003L)).toArray

  test("kernel == brute force: counts, cores, comps and core neighbors") {
    fixtures.foreach { case (name, vecs, eps) =>
      val n = vecs.length
      val pid = ids(n, n + 17L)
      val nbrs = Array.tabulate(n)(p => (0 until n).filter(q =>
        q != p && within(vecs(p), vecs(q), eps * eps)).toArray)
      assert(name == "empty" || name == "one point" ||
        nbrs.map(_.length).sum > n, s"$name: degenerate fixture")
      MinPts.foreach { minPts =>
        val counts = nbrs.map(_.length)
        val isCore = counts.map(_ + 1 >= minPts)
        // min core id per core-core component
        val root = Array.tabulate(n)(identity)
        def find(x: Int): Int =
          if (root(x) == x) x else { root(x) = find(root(x)); root(x) }
        for (p <- 0 until n if isCore(p); q <- nbrs(p) if isCore(q))
          root(find(p)) = find(q)
        val compOf = (0 until n).filter(isCore).groupBy(find)
          .values.flatMap(ps => ps.map(_ -> ps.map(pid).min)).toMap
        DimSets.foreach { dims =>
          val at = s"$name, dims ${dims.mkString("[", ",", "]")}, minPts $minPts"
          val kern = new LocalDbscan(pid, vecs, eps, minPts, dims)
          assert(kern.counts.toSeq == counts.toSeq, s"$at: counts")
          assert(kern.isCore.toSeq == isCore.toSeq, s"$at: isCore")
          (0 until n).filter(isCore).foreach { p =>
            assert(kern.comp(p) == compOf(p), s"$at: comp of $p")
          }
          (0 until n).foreach { p =>
            val got = Seq.newBuilder[Int]
            kern.forEachCoreNeighbor(p)(got += _)
            assert(got.result().sorted == nbrs(p).filter(isCore).toSeq,
              s"$at: core neighbors of $p (core: ${isCore(p)})")
          }
        }
      }
    }
  }

  test("grid: exact cell identity, ascending members, every occupied " +
      "neighbor cell in offsets order") {
    fixtures.foreach { case (name, vecs, eps) =>
      DimSets.foreach { dims =>
        val at = s"$name, dims ${dims.mkString("[", ",", "]")}"
        val g = LocalDbscan.Grid(vecs, eps, dims)
        val key = vecs.map(v =>
          dims.toSeq.map(d => math.floor(v(d).toDouble / eps).toLong))
        val keys = key.distinct
        assert(g.near.length == keys.length, s"$at: cell count")
        val cellKey = g.cell.indices.groupBy(g.cell(_)).map {
          case (c, ps) =>
            assert(ps.map(key).distinct.length == 1, s"$at: cell $c mixes keys")
            c -> key(ps.head)
        }
        assert(cellKey.values.toSet.size == keys.length, s"$at: keys share a cell")
        val idOf = cellKey.map(_.swap)
        g.near.indices.foreach { c =>
          val ms = g.members.slice(g.start(c), g.start(c + 1)).toSeq
          assert(ms == g.cell.indices.filter(g.cell(_) == c), s"$at: members of $c")
          val want = EpsilonJoin.offsets(dims.length).flatMap(o =>
            idOf.get(cellKey(c).zip(o).map { case (x, d) => x + d }))
          assert(g.near(c).toSeq == want, s"$at: neighbors of cell $c")
        }
      }
    }
  }
}
