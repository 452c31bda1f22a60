package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Tile geometry of [[Dbscan]]'s distributed path: boxes that each run
  * the [[LocalDbscan]] kernel once over their owners and ghosts.
  *
  * The base grid has `width`-sided tiles over `dims`, tile index
  * `floor(x / width)` per dim. Every key in `split` names a tile that is
  * halved, and a half can be split again. The halving dim cycles through
  * `dims` with depth (`depth % k`): base tiles are cubes, so that is
  * always a widest side, lowest dim first. A tile key is the base index
  * followed by a heap code for the leaf: 1 is the whole base tile, the
  * halves of code `c` are `2c` (below the midpoint) and `2c + 1`.
  *
  * A point's home is the leaf holding it. Its ghost tiles are the other
  * leaves whose box, grown by 2ε, holds it, so every tile sees every
  * point within 2ε of its owners. The envelope is rounded outward: its
  * half-width is 2ε widened by a relative 1e-9, which covers the
  * rounding of the kernel's distance test, and its ends move one ulp
  * out, which covers the rounding of `x ± halo`. An extra ghost is
  * always safe, a missing one is not. The home and the envelope use the
  * same monotone floor and midpoint tests, so a point whose envelope
  * holds an owner is always routed to that owner's leaf. */
private[graft] final class DbscanTiles(val dims: Array[Int],
    val width: Double, eps: Double,
    val split: Set[Vector[Long]] = Set.empty) extends Serializable {
  require(dims.nonEmpty, "DBSCAN tiles need at least one dim")
  require(!(width < 4 * eps),
    s"tile width $width is below the 4ε floor ${4 * eps}")

  private val k = dims.length
  private val halo = 2 * eps * (1 + 1e-9)

  /** Whether leaf `key` may be halved: the half keeps the 4ε floor. */
  def canSplit(key: Vector[Long]): Boolean = {
    val depth = 63 - java.lang.Long.numberOfLeadingZeros(key(k))
    // the next halving is along dim depth % k, already halved depth / k times
    val side = width / math.pow(2, depth / k)
    java.lang.Double.isFinite(width) && depth < 62 && side / 2 >= 4 * eps
  }

  /** This geometry with every splittable leaf of `keys` halved. */
  def splitting(keys: Iterable[Vector[Long]]): DbscanTiles = {
    val more = keys.filter(canSplit)
    if (more.isEmpty) this else new DbscanTiles(dims, width, eps, split ++ more)
  }

  /** The leaf that owns a point. */
  def home(v: Array[Float]): Vector[Long] = {
    val x = dims.map(d => v(d).toDouble)
    leaves(x, x).head
  }

  /** (home leaf, ghost leaves) of a point. */
  def route(v: Array[Float]): (Vector[Long], Seq[Vector[Long]]) = {
    val x = dims.map(d => v(d).toDouble)
    val home = leaves(x, x).head
    val lo = x.map(xi => Math.nextDown(xi - halo))
    val hi = x.map(xi => Math.nextUp(xi + halo))
    (home, leaves(lo, hi).filter(_ != home))
  }

  /** Every leaf whose box meets the box `[a, b]`; one leaf when a = b. */
  private def leaves(a: Array[Double], b: Array[Double]): Seq[Vector[Long]] = {
    val out = mutable.ArrayBuffer.empty[Vector[Long]]
    def descend(base: Vector[Long], code: Long, depth: Int,
        lo: Array[Double], side: Array[Double]): Unit = {
      val key = base :+ code
      if (!split(key)) out += key
      else {
        val j = depth % k
        val half = side(j) / 2
        val mid = lo(j) + half
        val side2 = side.clone(); side2(j) = half
        if (a(j) < mid) descend(base, 2 * code, depth + 1, lo, side2)
        if (!(b(j) < mid)) {
          val lo2 = lo.clone(); lo2(j) = mid
          descend(base, 2 * code + 1, depth + 1, lo2, side2)
        }
      }
    }
    def bases(j: Int, acc: Vector[Long]): Unit =
      if (j == k) {
        if (split.isEmpty) out += acc :+ 1L
        else descend(acc, 1L, 0, acc.map(_ * width).toArray,
          Array.fill(k)(width))
      } else {
        var t = math.floor(a(j) / width).toLong
        val last = math.floor(b(j) / width).toLong
        // width >= 4ε spans an envelope with at most 3 tiles, unless the
        // coordinate is so large that a double cannot resolve ε there
        require(last - t <= 2, s"DBSCAN tiles: coordinate ${a(j)} of " +
          s"dim ${dims(j)} is too large to resolve eps = $eps")
        while (t <= last) {
          bases(j + 1, acc :+ t)
          if (t == last) t = last + 1 else t += 1 // no wrap at Long.MaxValue
        }
      }
    bases(0, Vector.empty)
    out.toSeq
  }
}

private[graft] object DbscanTiles {

  /** A row of one tile: (role, id, vector). */
  type TileRow = (Byte, Long, Array[Float])
  // row roles in a tile
  final val Ghost: Byte = 0
  final val Owner: Byte = 1
  final val OwnerGhostedElsewhere: Byte = 2

  /** The `(id, vector)` rows a tiling clusters: ids cast to long,
    * vectors to float, rows with a null id or vector left out. */
  def points(df: DataFrame, idCol: String,
      vecCol: String): RDD[(Long, Array[Float])] =
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull)
      .rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** The base grid over `df`'s vectors: [[EpsilonJoin.kdHeuristic]]'s
    * dims (`bucketDims` when given) and cell size for `cellsPerCore`
    * cells per shuffle partition, with a tile side of at least 4ε.
    * None when no vector is present. */
  def base(df: DataFrame, vecCol: String, eps: Double,
      bucketDims: Seq[Int], tileWidth: Option[Double],
      desc: String, cellsPerCore: Int = 4): Option[DbscanTiles] =
    EpsilonJoin.kdHeuristic(df, vecCol, eps, 3, cellsPerCore, desc, bucketDims)
      .map { case (dims, cell) => new DbscanTiles(dims.toArray,
        tileWidth.getOrElse(math.max(4 * eps, cell)), eps) }

  /** Route every point to its home tile and its ghost tiles, keep the
    * tiles `keep` accepts, and group each tile's rows with one sorted
    * shuffle: a task holds one tile at a time. */
  def groups(rows: RDD[(Long, Array[Float])], tiles: DbscanTiles,
      partitions: Int,
      keep: Vector[Long] => Boolean): RDD[mutable.ArrayBuffer[TileRow]] = {
    import scala.math.Ordering.Implicits.seqOrdering
    implicit val keyOrd: Ordering[Vector[Long]] = seqOrdering[Vector, Long]
    rows
      .flatMap { case (id, v) =>
        val (home, ghosts) = tiles.route(v)
        val role = if (ghosts.isEmpty) Owner else OwnerGhostedElsewhere
        (Iterator.single((home, (role, id, v))) ++
          ghosts.iterator.map(t => (t, (Ghost, id, v)))).filter(r => keep(r._1))
      }
      .repartitionAndSortWithinPartitions(
        new org.apache.spark.HashPartitioner(partitions))
      .mapPartitions { it =>
        val buf = it.buffered
        Iterator.unfold(buf) { b =>
          if (!b.hasNext) None
          else {
            val key = b.head._1
            val tile = mutable.ArrayBuffer.empty[TileRow]
            while (b.hasNext && b.head._1 == key) tile += b.next()._2
            Some((tile, b))
          }
        }
      }
  }

  /** Halve overfull leaves until every leaf holds at most `maxRows`
    * rows (owners + ghosts) or sits at the 4ε floor. One counting job
    * per round; only the overfull leaves reach the driver, so the
    * common case is a single job that returns nothing. */
  def fit(points: RDD[(Long, Array[Float])], tiles: DbscanTiles,
      maxRows: Long, partitions: Int): DbscanTiles = {
    val over = ConnectedComponents.withJobDesc(points.sparkContext,
        "dbscan: tile row counts") {
      points.flatMap { case (_, v) =>
          val (home, ghosts) = tiles.route(v)
          Iterator.single(home) ++ ghosts
        }
        .map((_, 1L)).reduceByKey(_ + _, partitions)
        .filter(_._2 > maxRows).keys.collect()
    }
    val next = tiles.splitting(over)
    if (next eq tiles) tiles else fit(points, next, maxRows, partitions)
  }
}
