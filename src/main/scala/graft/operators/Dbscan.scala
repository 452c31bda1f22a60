package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import scala.collection.mutable

/** Distributed DBSCAN over a point table `(id: long, features: array<float>)`
  * — the full capability of the reference engine
  * (PDSDBSCAN-D, `mpi_main.cpp:47-197`), in the same shape:
  *
  *   tile grid + 2ε ghost halo (DbscanTiles) ≈ geometric partition + halo
  *   LocalDbscan per tile, one shuffle       ≈ local neighbor search, core test
  *                                             and union-find (dbscan.cpp:720-788)
  *   driver union-find over cross-tile
  *     links, ConnectedComponents above
  *     the cap                               ≈ dbscan.cpp:347-402
  *   border attach + dense labels            ≈ get_clusters_distributed (dbscan.cpp:125-506)
  *
  * The dense-id step (`dbscan.cpp:388-415`) is [[clusterIds]], shared
  * with [[IncrementalDbscan.labels]]; the fused path runs its lookup.
  *
  * Semantics preserved from the reference:
  *  - neighbor count INCLUDES the point itself and the core test is `>=`
  *    (`dbscan.cpp:739`, self returned at distance 0 by the radius query);
  *  - noise cluster id is 0 (`dbscan.cpp:399`); real ids are dense
  *    positive ints;
  *  - border points (non-core within ε of a core) join a neighboring
  *    core's cluster. The reference attaches them to the FIRST claiming
  *    cluster — order-dependent (`dbscan.cpp:760-761`); we canonicalize to
  *    the minimum component id among core neighbors, making output
  *    deterministic and partition-count invariant.
  *
  * No ε-pair is ever materialized: the shuffles move points to tiles
  * and per-point facts to the merge; only overfull tile keys, the
  * cross-tile links when they fit CC's driver cap, and the ids of the
  * kept clusters reach the driver. Per-task memory is one tile, capped
  * by halving overfull tiles down to the 4ε floor.
  */
object Dbscan {

  /** ε-pair stream with automatic physical routing: explicit bucket
    * dims → the grid equi-join; no dims on >3-dimensional data → the
    * tiled kd-tree path (the 3-dim grid cannot even represent
    * those inputs, and the brute nested-loop scan is quadratic); no
    * dims on ≤3-d data → the caller chose brute force, honor it.
    * All three produce the identical ordered pair set. */
  private def epsPairs(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, bucketDims: Seq[Int]): DataFrame =
    if (bucketDims.nonEmpty)
      EpsilonJoin.selfJoin(points, idCol, vecCol, eps, bucketDims)
    else if (EpsilonJoin.kdCompatible(points, idCol, vecCol)) {
      val dim = graft.functions.VectorOps.probeDim(points, vecCol)
        .getOrElse(0)
      if (dim > 3) EpsilonJoin.selfJoinKd(points, idCol, vecCol, eps)
      else EpsilonJoin.selfJoin(points, idCol, vecCol, eps, Nil)
    } else
      // non-integral ids or double vectors: the kd physical contract
      // doesn't hold — the brute path handles any schema
      EpsilonJoin.selfJoin(points, idCol, vecCol, eps, Nil)

  /** Per-point ε-neighbor count (self included) — SURVEY §2.7 Q3. */
  def neighborCounts(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, bucketDims: Seq[Int]): DataFrame = {
    val pairs = epsPairs(points, idCol, vecCol, eps, bucketDims)
    val counts = pairs.groupBy(col("a_id").as(idCol)).count()
    // left join back: points with zero neighbors still count themselves
    points.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("count"), lit(0L)) + lit(1L)).as("n_neighbors"))
  }

  /** Full DBSCAN labels: (`id`, `cluster_id`), noise = 0, ids dense from 1
    * ordered by the component's minimum point id (the one rule of
    * [[clusterId]], which [[IncrementalDbscan.labels]] shares). Rows
    * whose vector is null are noise.
    *
    * @param minClusterSize a "cluster" must have at least this many member
    *   points (cores + attached borders); smaller components are relabeled
    *   noise. The reference requires ≥ 2 (`child_count > 1`,
    *   `dbscan.cpp:347-352`, `:395`) — a core whose every neighbor was
    *   claimed by other clusters does NOT form a cluster of its own. */
  def run(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int, bucketDims: Seq[Int],
      minClusterSize: Int = 2, localThreshold: Long = 100_000L): DataFrame = {
    // the point table is scanned by the tile passes and the labels'
    // null-row scan — cache it once (no-op if the caller already
    // persisted it)
    val pts = points.persist()

    // Small-input fast path: even the tile pipeline costs 3 Spark jobs
    // before the caller's own, each ~0.1-0.3 s of orchestration in local
    // mode. Below the threshold, run the whole clustering in ONE task with the
    // LocalDbscan kernel — the kernel every tile runs, with the same
    // canonical labels (same distance fold, same min-id component labels,
    // same dense-id ordering). Here it indexes its ε-grid over
    // `bucketDims` (a tile indexes its tiling's dims: `bucketDims` when
    // given, the ranges heuristic's otherwise); with no bucket dims the
    // grid is one cell, a brute-force O(n²) scan, so only inputs up to
    // `bruteForceCap` rows take this path. The size
    // probe ([[Dispatch]]) stops scanning at threshold + 1 rows instead
    // of counting 100 TB to decide.
    if (localThreshold > 0) {
      val n = Dispatch.counts("dbscan", pts -> localThreshold).head
      val bruteForceCap = 4096L
      if (n <= localThreshold && (bucketDims.nonEmpty || n <= bruteForceCap))
        return runLocal(pts, idCol, vecCol, eps, minPts, bucketDims,
          minClusterSize)
    }
    runTiled(pts, idCol, vecCol, eps, minPts, bucketDims, minClusterSize)
  }

  /** What a tile reports about one point: `(tag, id, local comp)`. */
  private type Fact = (Byte, Long, Long)
  // the first comp of an owned core or border / each further comp of an
  // owned border / an owned noise point / a core seen by two tiles
  private final val Member: Byte = 0
  private final val Candidate: Byte = 1
  private final val Noise: Byte = 2
  private final val Link: Byte = 3

  /** The distributed path, in PDSDBSCAN-D's shape: tile the space, run
    * [[LocalDbscan]] once per tile over its owners and 2ε ghosts, and
    * merge only what crosses a tile boundary.
    *
    * Why a 2ε halo is exact: an owner's ε-neighbors and their
    * ε-neighbors all lie within 2ε of it, so every owner's core flag and
    * every core flag within ε of the tile are exact. Ghosts further out
    * can only lose neighbors, so every core the kernel reports is a real
    * core and every union it makes is a real edge. Each core-core edge is
    * unioned in its owner's tile, and a ghost core links its local comp
    * here to its comp in its own tile. Local comps are min core ids, so
    * connected components over those links alone, min-id again, give the
    * global comp of every local comp, and the labels equal the fused
    * path's whatever the tiling.
    *
    * A tile still over `maxTileRows` at the 4ε floor (a blob denser
    * than the cap within 4ε) is kept and runs whole in one task: the
    * labels stay exact, but that task's memory is the blob's, not the
    * cap's. ([[EpsilonJoin.selfJoinKd]] shards such a tile; the DBSCAN
    * kernel needs a tile's whole 2ε neighbourhood at once.)
    *
    * Three described jobs before the caller's action, when no tile
    * needs counting: `dbscan: tile: ranges` sizes the grid,
    * `dbscan: tile kernel` runs the kernels, caches their facts and
    * gathers the cross-tile links to one min-id union-find on the
    * driver, and `dbscan: cluster sizes` applies it and collects the
    * comps kept as clusters ([[clusterIds]]). The caller's action maps
    * each point's comp to its cluster id from that job's last shuffle
    * output, so nothing stays cached. More
    * vectors than `maxTileRows` add one `dbscan: tile row counts` job
    * per [[DbscanTiles.fit]] round; a task whose links exceed its share
    * of `maxDriverLinks` sends the merge through [[ConnectedComponents]].
    *
    * @param tileWidth the base tile side; None sizes it from the same
    *   ranges pass as [[EpsilonJoin.selfJoinKd]]'s tiles, at least 4ε
    * @param maxTileRows owners + ghosts a tile may hold before it is
    *   halved (down to the 4ε floor) — the per-task memory bound
    * @param maxDriverLinks the links the driver merges at most (see
    *   [[Dispatch.gather]]); the default is CC's driver cap */
  private[graft] def runTiled(pts: DataFrame, idCol: String,
      vecCol: String, eps: Double, minPts: Int, bucketDims: Seq[Int],
      minClusterSize: Int, tileWidth: Option[Double] = None,
      maxTileRows: Long = DbscanTiles.DefaultMaxTileRows,
      maxDriverLinks: Long = ConnectedComponents.SmallGraphThreshold)
      : DataFrame = {
    val spark = pts.sparkSession
    val sc = spark.sparkContext
    val partitions = spark.sessionState.conf.numShufflePartitions
    val cast = pts.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("v"))
    val grid = DbscanTiles.base(pts, vecCol, 2 * eps, bucketDims, tileWidth,
      "dbscan: tile")
    val labelRows = grid match {
      case None => sc.emptyRDD[Row] // no vector to cluster
      case Some((base, vectors)) =>
        val rows = DbscanTiles.points(cast, "id", "v")
        val (tiles, _) = DbscanTiles.fit(rows, base, maxTileRows, partitions,
          "dbscan", vectors)
        val facts = tileFacts(rows, tiles, eps, minPts, partitions).persist()
        // the job that runs the kernels and caches the facts also brings
        // the links to the driver when each task's links fit its share of
        // the cap; above it, connected components merge the cached links
        val links = facts.filter(_._1 == Link).map(f => (f._2, f._3))
        val owned = facts.filter(f => f._1 == Member || f._1 == Candidate)
          .map(f => (f._3, (f._2, if (f._1 == Member) 1 else 0)))
        // per owned comp fact: (id, (clustered, global comp, owned copies))
        val clustered = Dispatch.gather(links, "dbscan: tile kernel",
            maxDriverLinks) match {
          case Some(ls) =>
            val global = sc.broadcast(mutable.LongMap.from(
              ConnectedComponents.unionFindRows(ls.iterator)))
            owned.map { case (local, (id, copies)) =>
              (id, (true, global.value.getOrElse(local, local), copies)) }
          case None =>
            val global = ConnectedComponents.run(spark.createDataFrame(
                links.map(l => Row(l._1, l._2)),
                StructType(Seq(StructField("src", LongType, nullable = false),
                  StructField("dst", LongType, nullable = false)))))
              .rdd.map(r => (r.getLong(0), r.getLong(1)))
            owned.leftOuterJoin(global, partitions)
              .map { case (local, ((id, copies), g)) =>
                (id, (true, g.getOrElse(local), copies)) }
        }
        // one (id, comp) row per point, comp None for noise; a border
        // takes the min global comp over its candidates
        val perPoint = clustered
          .union(facts.filter(_._1 == Noise).map(f => (f._2, (false, 0L, 1))))
          .reduceByKey((a, b) => (a._1 || b._1,
            if (!a._1) b._2 else if (!b._1) a._2 else math.min(a._2, b._2),
            a._3 + b._3), partitions)
          .map { case (id, (isClustered, comp, copies)) =>
            // copies in one tile already failed in the kernel; this
            // catches copies that no single tile holds
            require(copies == 1,
              s"distributed DBSCAN requires unique point ids, got duplicate $id")
            (id, if (isClustered) Some(comp) else None)
          }
        try clusterIds(perPoint, minClusterSize, partitions,
          "dbscan: cluster sizes") finally facts.unpersist()
    }

    // Lazy result. Rows the tiles never saw (null id or vector) are
    // noise too.
    spark.createDataFrame(labelRows, LabelSchema)
      .union(cast.filter(col("id").isNull || col("v").isNull)
        .select(col("id"), lit(0).as("cluster_id")))
  }

  /** Run the kernel once per tile of [[DbscanTiles.groups]]. Each tile
    * with an owner emits:
    *  - for each owned point its comps: its own for a core, the distinct
    *    comps of its core neighbors for a border (`Member` for the first,
    *    `Candidate` for the rest), or `Noise` when there are none;
    *  - `Link (x, comp)` for each core that is a ghost here or in another
    *    tile, when `x` is not its own comp. A ghost core links only comps
    *    an owned fact uses; no other comp can reach a label. */
  private def tileFacts(rows: RDD[(Long, Array[Float])], tiles: DbscanTiles,
      eps: Double, minPts: Int, partitions: Int): RDD[Fact] =
    DbscanTiles.groups(rows, partitions)(tiles.rows)
      .flatMap(tileKernel(_, eps, minPts, tiles.dims))

  /** The facts of one tile (see [[tileFacts]]). */
  private def tileKernel(rows: mutable.ArrayBuffer[DbscanTiles.TileRow],
      eps: Double, minPts: Int, dims: Array[Int]): Iterator[Fact] = {
    import DbscanTiles.{Ghost, OwnerGhostedElsewhere}
    if (rows.forall(_._1 == Ghost)) return Iterator.empty
    val ids = rows.map(_._2).toArray
    val kern = new LocalDbscan(ids, rows.map(_._3).toArray, eps, minPts, dims)
    val owned = (0 until kern.n).filter(rows(_)._1 != Ghost)
    val comps = new Array[Array[Long]](kern.n)
    InTask.parallelFor(owned.length) { i =>
      val p = owned(i)
      comps(p) =
        if (kern.isCore(p)) Array(kern.comp(p))
        else {
          val seen = mutable.LongMap.empty[Unit]
          kern.forEachCoreNeighbor(p)(q => seen(kern.comp(q)) = ())
          seen.keys.toArray
        }
    }
    val out = mutable.ArrayBuffer.empty[Fact]
    val used = mutable.LongMap.empty[Unit]
    owned.foreach { p =>
      val id = ids(p)
      if (comps(p).isEmpty) out += ((Noise, id, 0L))
      comps(p).iterator.zipWithIndex.foreach { case (c, j) =>
        used(c) = ()
        out += ((if (j == 0) Member else Candidate, id, c))
      }
      if (rows(p)._1 == OwnerGhostedElsewhere && kern.isCore(p) &&
          id != kern.comp(p)) out += ((Link, id, kern.comp(p)))
    }
    var p = 0
    while (p < kern.n) {
      val c = kern.comp(p)
      if (rows(p)._1 == Ghost && kern.isCore(p) && ids(p) != c && used.contains(c))
        out += ((Link, ids(p), c))
      p += 1
    }
    out.iterator
  }

  /** One-task DBSCAN for small inputs: identical labels to the distributed
    * path, computed in a single mapPartitions over a coalesced partition
    * — no shuffles, no CC loop, no driver-side point data. */
  private def runLocal(pts: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int, bucketDims: Seq[Int],
      minClusterSize: Int): DataFrame = {
    val spark = pts.sparkSession
    val dimsArr = bucketDims.toArray
    val rdd = pts
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .coalesce(1)
      .rdd
      .mapPartitions { it =>
        // a null vector has no neighbors: noise, like on the tile path
        val (rows, nulls) = it.map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
          .toArray.partition(_._2 != null)
        localLabels(rows.map(_._1), rows.map(_._2), eps, minPts, dimsArr,
          minClusterSize)
          .map { case (id, cid) => Row(id, cid) } ++
          nulls.iterator.map(r => Row(r._1, 0))
      }
    spark.createDataFrame(rdd, LabelSchema)
  }

  /** Labels from the shared [[LocalDbscan]] kernel (runs inside one
    * task). On top of the kernel's core test and min-id components it
    * keeps the distributed path's rules:
    *  - border → min component label among core neighbors;
    *  - [[clusterId]] over the components with ≥ minClusterSize
    *    members; everything else 0 (noise). */
  private[operators] def localLabels(ids: Array[Long],
      vecs: Array[Array[Float]], eps: Double, minPts: Int,
      bucketDims: Array[Int], minClusterSize: Int): Iterator[(Long, Int)] = {
    val kern = new LocalDbscan(ids, vecs, eps, minPts, bucketDims)
    val n = kern.n
    val label = new Array[Long](n)
    val clustered = new Array[Boolean](n)
    InTask.parallelFor(n) { p =>
      if (kern.isCore(p)) { label(p) = kern.comp(p); clustered(p) = true }
      else kern.forEachCoreNeighbor(p) { q =>
        if (!clustered(p) || kern.comp(q) < label(p)) {
          label(p) = kern.comp(q); clustered(p) = true
        }
      }
    }
    val sizes = new scala.collection.mutable.LongMap[Int]()
    var i = 0
    while (i < n) {
      if (clustered(i)) sizes(label(i)) = sizes.getOrElse(label(i), 0) + 1
      i += 1
    }
    val kept = sizes.iterator.filter(_._2 >= minClusterSize).map(_._1)
      .toArray.sorted
    Iterator.tabulate(n)(j =>
      (ids(j), if (clustered(j)) clusterId(kept, label(j)) else 0))
  }

  /** The labels' schema: `(id: long, cluster_id: int)`. */
  private[operators] val LabelSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cluster_id", IntegerType, nullable = false)))

  /** The reference's final cluster ids (`get_clusters_distributed`,
    * `dbscan.cpp:388-415`): comp `kept(i)` of the ascending `kept` comps
    * is cluster i + 1; any other comp is noise, 0. */
  private def clusterId(kept: Array[Long], comp: Long): Int = {
    val i = java.util.Arrays.binarySearch(kept, comp)
    if (i >= 0) i + 1 else 0
  }

  /** `(id, cluster_id)` rows from one `(id, comp)` row per point, comp
    * None for noise: one job described `desc` collects the ascending
    * comps of at least `minClusterSize` points, then [[clusterId]] maps
    * each point. Nothing is persisted: the caller's action reads
    * `perPoint` from the last shuffle output that job left behind. */
  private[operators] def clusterIds(perPoint: RDD[(Long, Option[Long])],
      minClusterSize: Int, partitions: Int, desc: String): RDD[Row] = {
    val sc = perPoint.sparkContext
    val kept = ConnectedComponents.withJobDesc(sc, desc) {
      perPoint.flatMap(_._2).map((_, 1L)).reduceByKey(_ + _, partitions)
        .filter(_._2 >= minClusterSize).keys.collect().sorted
    }
    val ids = sc.broadcast(kept)
    perPoint.map { case (id, comp) =>
      Row(id, comp.fold(0)(clusterId(ids.value, _))) }
  }

  /** Cluster statistics — the reference's end-of-run report
    * (`dbscan.cpp:344-367`): points in clusters, noise, total, #clusters. */
  def stats(labels: DataFrame): DataFrame =
    labels.agg(
      sum(when(col("cluster_id") =!= 0, 1L).otherwise(0L)).as("points_in_clusters"),
      sum(when(col("cluster_id") === 0, 1L).otherwise(0L)).as("noise"),
      count(lit(1)).as("total_points"),
      max(col("cluster_id")).cast("long").as("n_clusters"))
}
