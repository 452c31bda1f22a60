package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Tile geometry of the ε-operators' distributed paths: boxes that each
  * run one local kernel over their owners and ghosts — [[LocalDbscan]]
  * for [[Dbscan]] and [[IncrementalDbscan]], a [[graft.functions.KdTree]]
  * radius query per owner for [[EpsilonJoin.selfJoinKd]].
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
  * leaves whose box, grown by the halo `reach`, holds it, so every tile
  * sees every point within `reach` of its owners: 2ε for DBSCAN, which
  * must know whether a ghost is a core, and ε for ε-pairs. A tile side
  * is never below 2 × reach. The envelope is rounded outward: its
  * half-width is `reach` widened by a relative 1e-9, which covers the
  * rounding of the kernel's distance test, and its ends move one ulp
  * out, which covers the rounding of `x ± halo`. An extra ghost is
  * always safe, a missing one is not. The home and the envelope use the
  * same monotone floor and midpoint tests, so a point whose envelope
  * holds an owner is always routed to that owner's leaf. */
private[graft] final class DbscanTiles(val dims: Array[Int],
    val width: Double, reach: Double,
    val split: Set[Vector[Long]] = Set.empty) extends Serializable {
  import DbscanTiles.{Ghost, Owner, OwnerGhostedElsewhere, Query, TileRow}
  require(dims.nonEmpty, "tiles need at least one dim")
  require(!(width < 2 * reach),
    s"tile width $width is below the floor ${2 * reach} (2 × reach)")

  private val k = dims.length
  private val halo = reach * (1 + 1e-9)

  /** Whether leaf `key` may be halved: the half keeps the 2 × reach floor. */
  def canSplit(key: Vector[Long]): Boolean = {
    val depth = 63 - java.lang.Long.numberOfLeadingZeros(key(k))
    // the next halving is along dim depth % k, already halved depth / k times
    val side = width / math.pow(2, depth / k)
    java.lang.Double.isFinite(width) && depth < 62 && side / 2 >= 2 * reach
  }

  /** This geometry with every splittable leaf of `keys` halved. */
  def splitting(keys: Iterable[Vector[Long]]): DbscanTiles = {
    val more = keys.filter(canSplit)
    if (more.isEmpty) this
    else new DbscanTiles(dims, width, reach, split ++ more)
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

  /** A point's tile rows: an owner in its home leaf, a ghost in the
    * others. */
  def rows(id: Long, v: Array[Float]): Iterator[(Vector[Long], TileRow)] = {
    val (home, ghosts) = route(v)
    val role = if (ghosts.isEmpty) Owner else OwnerGhostedElsewhere
    Iterator.single((home, (role, id, v))) ++
      ghosts.iterator.map(t => (t, (Ghost, id, v)))
  }

  /** [[rows]] for ε-pairs, with each leaf of `shards` (one still over
    * the row cap at the floor, mapped to its shard count s) split by id
    * hash into s tree shards × s query shards. A point of hash h joins
    * group (h, q) of every query shard q as a tree-only `Ghost`, and an
    * owner also joins group (t, h) of every tree shard t as a `Query`.
    * A group then buffers about 1/s of the leaf's rows plus 1/s of its
    * owners, and the pair (a, b) meets only in group (hash of b, hash
    * of a). Group keys are the leaf key followed by (t, q). */
  def pairRows(shards: Map[Vector[Long], Int])(id: Long,
      v: Array[Float]): Iterator[(Vector[Long], TileRow)] =
    rows(id, v).flatMap { case row @ (leaf, (role, _, _)) =>
      shards.get(leaf) match {
        case None => Iterator.single(row)
        case Some(s) =>
          val h = ((java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L) &
            0x7fffffff) % s).toLong
          (0L until s).iterator.map(q => (leaf :+ h :+ q, (Ghost, id, v))) ++
            (if (role == Ghost) Iterator.empty
             else (0L until s).iterator.map(t => (leaf :+ t :+ h, (Query, id, v))))
      }
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
        // width >= 2 × reach spans an envelope with at most 3 tiles, unless
        // the coordinate is so large that a double cannot resolve reach there
        require(last - t <= 2, s"tiles: coordinate ${a(j)} of " +
          s"dim ${dims(j)} is too large to resolve reach = $reach")
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
  // row roles in a tile: a ghost is in the tile's index only, an owner
  // also runs its own query there, a query row runs only its query
  final val Ghost: Byte = 0
  final val Owner: Byte = 1
  final val OwnerGhostedElsewhere: Byte = 2
  final val Query: Byte = 3

  /** Default per-task cap on the rows (owners + ghosts) of one tile. 256k
    * rows of 32-d floats ≈ 45 MB of vectors + the index permutation: a
    * few concurrent tasks fit comfortably in an executor heap. */
  val DefaultMaxTileRows: Int = 262144

  /** The `(id, vector)` rows a tiling routes: ids cast to long,
    * vectors to float, rows with a null id or vector left out. */
  def points(df: DataFrame, idCol: String,
      vecCol: String): RDD[(Long, Array[Float])] =
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull)
      .rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Min and max of a vector column over `k` scanned dims, and its count
    * of non-null vectors: what [[kdHeuristic]] and
    * [[EpsilonJoin.pickBucketDims]] read. Min and max follow SQL `min` /
    * `max`: null elements are skipped and NaN sorts greatest. `k` grows
    * with [[widen]] when the pass scans every dim. */
  private[graft] final class Ranges(private var k: Int) extends Serializable {
    private var lo = new Array[Double](k)
    private var hi = new Array[Double](k)
    private var seen = new Array[Boolean](k)
    var vectors = 0L
    var shortest = Int.MaxValue // the length of the shortest vector
    var longest = 0 // the length of the longest vector

    /** The number of scanned dims. */
    def dims: Int = k

    /** Scan at least `m` dims. */
    def widen(m: Int): Unit = if (m > k) {
      lo = java.util.Arrays.copyOf(lo, m)
      hi = java.util.Arrays.copyOf(hi, m)
      seen = java.util.Arrays.copyOf(seen, m)
      k = m
    }

    def add(j: Int, x: Double): Unit =
      if (!seen(j)) { lo(j) = x; hi(j) = x; seen(j) = true }
      else {
        if (x < lo(j) || lo(j).isNaN) lo(j) = x
        if (x > hi(j) || x.isNaN) hi(j) = x
      }

    def merge(o: Ranges): Ranges = {
      widen(o.k)
      (0 until o.k).foreach(j => if (o.seen(j)) { add(j, o.lo(j)); add(j, o.hi(j)) })
      vectors += o.vectors
      shortest = math.min(shortest, o.shortest)
      longest = math.max(longest, o.longest)
      this
    }

    /** max − min of the `j`-th scanned dim; 0 when it holds no value. */
    def span(j: Int): Double = if (seen(j)) hi(j) - lo(j) else 0.0
  }

  /** [[Ranges]] of `df`'s vectors over `dims` in ONE Spark job described
    * `desc`: each task folds its partition, the driver folds the tasks,
    * and no exchange is planned. `dims` None scans every dim of the
    * longest vector: the pass learns the vector length itself, with no
    * probe job before it. A vector shorter than a scanned dim fails the
    * call. */
  def ranges(df: DataFrame, vecCol: String, dims: Option[Seq[Int]],
      desc: String): Ranges = {
    val fixed = dims.map(_.toArray)
    val parts = ConnectedComponents.withJobDesc(df, desc) {
      val rows = df.select(col(vecCol).cast("array<double>"))
        .queryExecution.toRdd
      df.sparkSession.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
        val r = new Ranges(fixed.fold(0)(_.length))
        it.foreach { row =>
          if (!row.isNullAt(0)) {
            val v = row.getArray(0)
            val m = v.numElements
            r.vectors += 1
            r.shortest = math.min(r.shortest, m)
            r.longest = math.max(r.longest, m)
            if (fixed.isEmpty) r.widen(m)
            var j = 0
            while (j < r.dims) {
              val d = if (fixed.isEmpty) j else fixed.get(j)
              if (d < m && !v.isNullAt(d)) r.add(j, v.getDouble(d))
              j += 1
            }
          }
        }
        r
      })
    }
    val all = parts.foldLeft(new Ranges(fixed.fold(0)(_.length)))(_.merge(_))
    val missing = fixed.getOrElse(Array.range(0, all.longest))
      .find(_ >= all.shortest)
    require(missing.isEmpty, s"$desc: a vector of length ${all.shortest} " +
      s"has no dim ${missing.getOrElse(0)} (dims are 0-based)")
    all
  }

  /** Shared kd partition heuristic: one [[ranges]] pass over `df` picks
    * the grid dims (widest spread first, ≤ `maxDims`, zero-range dims
    * dropped) and the cell size for a grid of ≈ `cellsPerCore` ×
    * shuffle-parallelism cells, and counts the non-null vectors.
    * Without `fixedDims` the pass scans every dim of the vectors and
    * learns their length itself; `fixedDims`, when non-empty, are taken
    * as the dims instead (the pass then only sizes the cells). Either
    * way it is the only job. Returns None for an empty/all-null
    * input; a degenerate input (every point identical along every dim)
    * gets `(Seq(0), 0.0, n)`. */
  private[graft] def kdHeuristic(df: DataFrame, vecCol: String,
      maxDims: Int, cellsPerCore: Int, desc: String,
      fixedDims: Seq[Int] = Nil): Option[(Seq[Int], Double, Long)] = {
    val spark = df.sparkSession
    val r = ranges(df, vecCol, Option.when(fixedDims.nonEmpty)(fixedDims),
      s"$desc: ranges")
    if (r.vectors == 0 || r.dims == 0) return None // every vector null or empty
    val scanned = if (fixedDims.nonEmpty) fixedDims else 0 until r.dims
    val spans = scanned.indices.map(i => scanned(i) -> r.span(i))
    val picked =
      if (fixedDims.nonEmpty) spans
      else spans.sortBy { case (d, s) => (-s, d) }.take(maxDims).filter(_._2 > 0)
    if (picked.isEmpty) return Some((Seq(0), 0.0, r.vectors))
    val dims = picked.map(_._1)
    val targetCells =
      math.max(1, cellsPerCore * spark.sessionState.conf.numShufflePartitions)
    val volume = picked.map(_._2).product
    Some((dims, math.pow(volume / targetCells, 1.0 / dims.size), r.vectors))
  }

  /** The base grid over `df`'s vectors at halo `reach`: [[kdHeuristic]]'s
    * dims (`bucketDims` when given) and cell size for `cellsPerCore`
    * cells per shuffle partition, with a tile side of at least
    * 2 × reach, and `df`'s count of non-null vectors. A tile holds each
    * point at most once, so when `df` holds every point a caller fits,
    * that count bounds every tile's rows: pass it to [[fit]]. None when
    * no vector is present. */
  def base(df: DataFrame, vecCol: String, reach: Double,
      bucketDims: Seq[Int], tileWidth: Option[Double],
      desc: String, cellsPerCore: Int = 4): Option[(DbscanTiles, Long)] =
    kdHeuristic(df, vecCol, 3, cellsPerCore, desc, bucketDims)
      .map { case (dims, cell, vectors) => (new DbscanTiles(dims.toArray,
        tileWidth.getOrElse(math.max(2 * reach, cell)), reach), vectors) }

  /** Route every point to its tile rows (`route`, e.g. a geometry's
    * [[DbscanTiles.rows]]) and group each tile's rows with one sorted
    * shuffle: a task holds one tile at a time. */
  def groups(points: RDD[(Long, Array[Float])], partitions: Int)(
      route: (Long, Array[Float]) => Iterator[(Vector[Long], TileRow)])
      : RDD[mutable.ArrayBuffer[TileRow]] = {
    import scala.math.Ordering.Implicits.seqOrdering
    implicit val keyOrd: Ordering[Vector[Long]] = seqOrdering[Vector, Long]
    points
      .flatMap { case (id, v) => route(id, v) }
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
    * rows (owners + ghosts) or sits at the floor. One counting job per
    * round, labelled `<desc>: tile row counts`; only the overfull leaves
    * reach the driver, so the common case is a single job that returns
    * nothing. No job runs when `rows`, an upper bound on the points
    * routed (e.g. [[base]]'s vector count), is at most `maxRows`: a tile
    * holds each point at most once. Returns the geometry and the leaves
    * still over `maxRows` at the floor, with their row counts. */
  def fit(points: RDD[(Long, Array[Float])], tiles: DbscanTiles,
      maxRows: Long, partitions: Int, desc: String,
      rows: Long = Long.MaxValue): (DbscanTiles, Map[Vector[Long], Long]) = {
    if (rows <= maxRows) return (tiles, Map.empty)
    val over = ConnectedComponents.withJobDesc(points.sparkContext,
        s"$desc: tile row counts") {
      points.flatMap { case (_, v) =>
          val (home, ghosts) = tiles.route(v)
          Iterator.single(home) ++ ghosts
        }
        .map((_, 1L)).reduceByKey(_ + _, partitions)
        .filter(_._2 > maxRows).collect()
    }
    val next = tiles.splitting(over.map(_._1))
    if (next eq tiles) (tiles, over.toMap)
    else fit(points, next, maxRows, partitions, desc)
  }
}
