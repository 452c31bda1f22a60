package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed DBSCAN over a point table `(id: long, features: array<float>)`
  * — the full capability of the reference engine
  * (PDSDBSCAN-D, `mpi_main.cpp:47-197`), as a declarative Spark pipeline:
  *
  *   ε self-join (EpsilonJoin)           ≈ geometric partition + halo + kd-tree
  *   groupBy(id).count ≥ minPts          ≈ core-point test (dbscan.cpp:720-743)
  *   connected components on core edges  ≈ union-find merge (dbscan.cpp:744-1038)
  *   border attach + dense labels        ≈ get_clusters_distributed (dbscan.cpp:125-506)
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
  * Everything below is shuffles + hash aggregates + the CC loop: no
  * driver-side point data, no collect — scales with cluster size.
  */
object Dbscan {

  /** Core-id tables at or below this many rows take the broadcast merge
    * shape; larger ones take the shared flagged-pair stream (see the
    * dispatch comment in [[run]]). Specs pass a lower
    * `run(coreBroadcastCap = …)` to force the non-broadcast branch on
    * small fixtures — a parameter, not process-global state, so a
    * failing spec can't leak the forced branch into later runs. */
  val DefaultCoreBroadcastCap: Long = 1_000_000L

  /** Size-probe limit for the local fast path: `localThreshold + 1`,
    * clamped so a huge threshold (e.g. `Long.MaxValue` for "always
    * local") can't overflow to a 0-row `limit(0)` probe that would
    * misroute arbitrarily large inputs onto the single-task path. */
  private[graft] def probeCap(localThreshold: Long): Int =
    (math.min(localThreshold, Int.MaxValue.toLong - 1) + 1).toInt

  /** Dense cluster ids 1..K ordered by comp, for components of at
    * least `minClusterSize` members: (comp, cluster_id: int).
    *
    * The rank runs as a window over ONE coalesced partition — and that
    * is the scale-honest shape, not a shortcut: every consumer
    * broadcast-joins this table back to the points (here and in
    * [[IncrementalDbscan.labels]]), so the comp count is bounded by
    * the broadcast contract ANYWAY — a comp table too big to sort in
    * one task would have killed the broadcast join first. `coalesce(1)`
    * reports SinglePartition, so the window plans with NO added
    * exchange (the r9 rowNumbersLazy scheme spent ~4 exchanges + a
    * boundary-sampling range shuffle per labels() call — measured
    * ~2 s/query at sf0.1; this is the round-10 adjudication fix). */
  private[graft] def denseCompIds(labeled: DataFrame,
      minClusterSize: Int): DataFrame =
    labeled.groupBy("comp").agg(count(lit(1)).as("csz"))
      .filter(col("csz") >= minClusterSize)
      .select("comp")
      .coalesce(1)
      .select(col("comp"),
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("comp"))
          .cast("int").as("cluster_id"))

  /** ε-pair stream with automatic physical routing: explicit bucket
    * dims → the grid equi-join; no dims on >3-dimensional data → the
    * per-partition kd-tree path (the 3-dim grid cannot even represent
    * those inputs, and the brute nested-loop scan is quadratic); no
    * dims on ≤3-d data → the caller chose brute force, honor it.
    * All three produce the identical ordered pair set. */
  private def epsPairs(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, bucketDims: Seq[Int],
      saltTable: Option[DataFrame] = None): DataFrame =
    if (bucketDims.nonEmpty)
      EpsilonJoin.selfJoinSalted(points, idCol, vecCol, eps, bucketDims,
        saltTable)
    else if (EpsilonJoin.kdCompatible(points, idCol, vecCol)) {
      val dim = graft.functions.VectorOps.probeDim(points, vecCol)
        .getOrElse(0)
      if (dim > 3) EpsilonJoin.selfJoinKdAuto(points, idCol, vecCol, eps)
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
    * ordered by the component's minimum point id.
    *
    * @param minClusterSize a "cluster" must have at least this many member
    *   points (cores + attached borders); smaller components are relabeled
    *   noise. The reference requires ≥ 2 (`child_count > 1`,
    *   `dbscan.cpp:347-352`, `:395`) — a core whose every neighbor was
    *   claimed by other clusters does NOT form a cluster of its own. */
  def run(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int, bucketDims: Seq[Int],
      minClusterSize: Int = 2, localThreshold: Long = 100_000L,
      coreBroadcastCap: Long = DefaultCoreBroadcastCap): DataFrame = {
    // the point table is scanned by both join sides and the final label
    // join — cache it once (no-op if the caller already persisted it)
    val pts = points.persist()

    // Small-input fast path: the distributed pipeline costs ~15 Spark jobs
    // (join + agg + CC loop), each ~0.1-0.3 s of orchestration in local
    // mode — the entire gap to the reference on its 61k-point benchmarks.
    // Below the threshold, run the whole clustering in ONE task with
    // the grid-indexed LocalDbscan kernel, which reproduces the distributed
    // path's canonical labels exactly (same distance fold, same min-id
    // component labels, same dense-id ordering). Size probe via
    // limit(threshold+1): stops scanning early on big inputs instead of
    // counting 100 TB to decide. k=0 (no bucket dims) means a brute-force
    // O(n²) scan — only allowed for tiny inputs.
    if (localThreshold > 0) {
      val cap = probeCap(localThreshold)
      val n = ConnectedComponents.withJobDesc(pts, "dbscan: size probe") {
        pts.limit(cap).count()
      }
      val bruteForceCap = 4096L
      if (n <= localThreshold && (bucketDims.nonEmpty || n <= bruteForceCap))
        return runLocal(pts, idCol, vecCol, eps, minPts, bucketDims,
          minClusterSize)
    }
    // auto-salt: probe the cell histogram once and shard any ultra-dense
    // ε-cell across salt shards (an AQE-unsplittable single hash group
    // otherwise pins one reducer); None — the common case — adds nothing
    // to the join plan. One linear aggregate job, distributed path only.
    // epsPairs also routes no-dims high-d inputs to the kd-tree path.
    val saltTable = EpsilonJoin.denseCellSalts(pts, vecCol, eps, bucketDims)
    val pairs = epsPairs(pts, idCol, vecCol, eps, bucketDims, saltTable)
      .select(col("a_id"), col("b_id"))
      .persist()

    // core test: |N_eps(p)| >= minPts, self included (dbscan.cpp:739).
    // minPts <= 1: EVERY point is core (self-count alone suffices), but
    // zero-neighbor points emit no pair rows and would be missed by the
    // pair aggregate — short-circuit instead of paying a points-side
    // left join on the normal path
    val cores =
      if (minPts <= 1) pts.select(col(idCol).as("id")).persist()
      else pairs.groupBy("a_id").agg(count(lit(1)).as("n"))
        .filter(col("n") + lit(1L) >= lit(minPts.toLong))
        .select(col("a_id").as("id"))
        .persist()

    // Both downstream branches classify pair endpoints against `cores`:
    // core-core edges need BOTH ends core, borders need b core + a not.
    // The physical shape that wins depends on whether the core-id table
    // broadcasts:
    //  - cores fit a broadcast (≤1M ids ≈ tens of MB serialized): four
    //    broadcast-hash joins — the pair stream never shuffles and needs
    //    no second cache. This is every workload up to ~1M points.
    //  - cores too big: classify each pair ONCE into a shared, persisted
    //    `flagged` stream (2 shuffle joins) instead of paying 4 shuffle
    //    joins of the pair stream (46.7M rows at the 5M diagnostic —
    //    those joins are the merge phase's bill). The b-core inner join
    //    runs first: pairs whose b is not core feed neither branch, so
    //    dropping them early also shrinks the cached set.
    // The size probe stops scanning at the cap (limit, not count) and
    // warms the pairs/cores caches both branches read anyway.
    val bcastCoreCap = coreBroadcastCap
    val coresBroadcastable = ConnectedComponents.withJobDesc(cores,
      "dbscan: core-table size probe") {
      cores.limit(probeCap(bcastCoreCap)).count() <= bcastCoreCap
    }
    val (coreCoreEdges, borderCand) =
      if (coresBroadcastable) (
        pairs
          .join(broadcast(cores.withColumnRenamed("id", "a_id")), "a_id")
          .join(broadcast(cores.withColumnRenamed("id", "b_id")), "b_id")
          .select(col("a_id").as("src"), col("b_id").as("dst")),
        pairs
          .join(broadcast(cores.withColumnRenamed("id", "b_id")), "b_id")
          .join(broadcast(cores.withColumnRenamed("id", "a_id")),
            Seq("a_id"), "left_anti"))
      else {
        val flagged = pairs
          .join(cores.withColumnRenamed("id", "b_id"), "b_id") // b is core
          .join(cores.withColumnRenamed("id", "a_id")
            .withColumn("a_core", lit(true)), Seq("a_id"), "left")
          .persist()
        (flagged.filter(col("a_core"))
          .select(col("a_id").as("src"), col("b_id").as("dst")),
          flagged.filter(col("a_core").isNull))
      }

    // (+ self loops so isolated cores form singletons)
    val coreEdges = coreCoreEdges
      .union(cores.select(col("id").as("src"), col("id").as("dst")))

    val coreComp = ConnectedComponents.run(coreEdges) // (id, comp)

    // border points: non-core, within eps of >=1 core -> min core comp
    val borderComp = borderCand
      .join(coreComp.withColumnRenamed("id", "b_id"), "b_id")
      .groupBy(col("a_id").as("id"))
      .agg(min("comp").as("comp"))

    // (id, comp) for clustered points — consumed by BOTH the dense-id
    // distinct agg and the final label join: persist to compute once
    val labeled = coreComp.union(borderComp).persist()

    // dense cluster ids 1..K ordered by comp (distinct comps only, then
    // broadcast back); components below minClusterSize are dropped ->
    // their points fall back to noise
    val compIds = denseCompIds(labeled, minClusterSize)
    val withIds = labeled.join(broadcast(compIds), "comp")
      .select(col("id"), col("cluster_id"))

    // Lazy result: the caller's first action executes one unified DAG over
    // the cached intermediates (pairs/cores/pts stay persisted — Spark's
    // ContextCleaner unpersists them once the label plan is unreachable).
    // Callers that iterate over the labels repeatedly should persist().
    pts.select(col(idCol).as("id"))
      .join(withIds, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), lit(0)).as("cluster_id")) // noise = 0
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
        val rows = it.map(r =>
          (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
        localLabels(rows.map(_._1), rows.map(_._2), eps, minPts, dimsArr,
          minClusterSize)
          .map { case (id, cid) => Row(id, cid) }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false))))
  }

  /** Labels from the shared [[LocalDbscan]] kernel (runs inside one
    * task). On top of the kernel's core test and min-id components it
    * keeps the distributed path's rules:
    *  - border → min component label among core neighbors;
    *  - dense ids 1..K by ascending component label over components with
    *    ≥ minClusterSize members; everything else 0 (noise). */
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
    val dense = sizes.iterator.filter(_._2 >= minClusterSize).map(_._1)
      .toArray.sorted.zipWithIndex.map { case (c, j) => c -> (j + 1) }.toMap
    Iterator.tabulate(n)(j =>
      (ids(j), if (clustered(j)) dense.getOrElse(label(j), 0) else 0))
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
