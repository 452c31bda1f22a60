package graft.operators

import graft.functions.{VectorExpressions, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Fixed-radius spatial self-join: all ordered pairs (a, b), a ≠ b, with
  * ‖a − b‖² ≤ ε². This is the reference's central relational operation —
  * kd-tree radius query per point (`kdtree2.cpp:382-401`, `:606-665`)
  * plus the ε-halo ghost exchange (`geometric_partitioning.cpp:32-235`)
  * — re-expressed as one declarative grid-bucketed equi-join that
  * Catalyst plans as a shuffled hash/sort-merge join.
  *
  * Scheme (the classic cell-replication trick, half-space variant):
  *  - every point gets a home cell = `floor(coord/ε)` over k bucketed dims;
  *  - same-cell pairs come from a plain equi-join with `a_id < b_id`;
  *    cross-cell pairs replicate probes along the POSITIVE offset
  *    half-space only — each undirected pair is produced and
  *    distance-checked exactly once, then both orientations are emitted
  *    by a narrow union;
  *  - an exact codegen'd distance filter decides membership.
  *
  * Scale notes (100 TB):
  *  - k is capped (default ≤ 3) so probe-side replication is ≤ 14×; dims
  *    are chosen by spread/ε so the grid actually prunes (a dim whose range
  *    spans < minCellsPerDim cells adds replication without pruning and is
  *    skipped — in the degenerate case k = 0 this becomes an explicit
  *    cross join, correct but only acceptable for small inputs).
  *  - the join is a pure equi-join on `array<long>` cell keys: partition
  *    pruning by cell adjacency is by construction (the reference's
  *    box-overlap pruning, `geometric_partitioning.cpp:92-114`, for free);
  *  - AQE handles moderately skewed (dense) cells; pathological skew —
  *    one ultra-dense ε-cell that AQE cannot split because it is a single
  *    hash group — is auto-salted per cell: [[denseCellSalts]] probes the
  *    cell histogram and [[selfJoinSalted]] shards ONLY the dense cells.
  *
  * High-dimensional inputs take [[selfJoinKd]] instead: the same pair
  * contract from a kd-tree per tile of the [[DbscanTiles]] router (the
  * one halo exchange DBSCAN also runs on), at halo reach ε.
  */
object EpsilonJoin {

  /** The (a_id, b_id, d2) frame the kd path emits — one shared
    * definition for its tile output and its empty-input short-circuit. */
  private val pairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("a_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("b_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("d2",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  private def emptyPairs(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pairSchema)

  /** Whether the kd path's physical contract holds for these columns:
    * ids must be integral (the path shuffles raw (long, float[]) tuples)
    * and vectors must be `array<float>` ([[graft.functions.KdTree]] is
    * float-typed — its d² fold over float inputs is the bit-parity
    * contract with the codegen'd squaredL2). `Dbscan.neighborCounts`
    * diverts to kd only when this holds; anything else (string ids, double
    * vectors) keeps the generic grid/brute plan, which supports
    * arbitrary id types and both float/double vectors. */
  private[graft] def kdCompatible(df: DataFrame, idCol: String,
      vecCol: String): Boolean = {
    import org.apache.spark.sql.types._
    val idOk = df.select(col(idCol)).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val vecOk = df.select(col(vecCol)).schema.head.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    idOk && vecOk
  }

  private def requireKdCompatible(df: DataFrame, idCol: String,
      vecCol: String, fn: String): Unit =
    require(kdCompatible(df, idCol, vecCol),
      s"$fn requires an integral id column and array<float> vectors " +
        s"(got id: ${df.select(col(idCol)).schema.head.dataType.sql}, " +
        s"vec: ${df.select(col(vecCol)).schema.head.dataType.sql}); " +
        "cast upstream, or use the grid/brute selfJoin/join paths which " +
        "accept arbitrary id types and double vectors")

  /** Pick bucket dims by spread: dims whose data range covers at least
    * `minCellsPerDim` ε-cells, widest first, at most `maxDims` (mirrors the
    * reference's widest-dimension split heuristic,
    * `geometric_partitioning.cpp:430-437`). One exchange-free ranges job
    * ([[DbscanTiles.ranges]]) over the first `knownDim` dims, or over
    * every dim when `knownDim` is not positive; an empty input picks no
    * dims (k = 0). */
  def pickBucketDims(points: DataFrame, vecCol: String, eps: Double,
      maxDims: Int = 3, minCellsPerDim: Int = 4,
      knownDim: Int = -1): Seq[Int] = {
    val r = DbscanTiles.ranges(points, vecCol,
      Option.when(knownDim > 0)(0 until knownDim), "pickBucketDims: ranges")
    if (r.vectors == 0) return Nil
    (0 until r.dims).map(d => d -> r.span(d))
      .filter { case (_, s) => s / eps >= minCellsPerDim }
      .sortBy { case (d, s) => (-s, d) }
      .take(maxDims)
      .map(_._1)
  }

  /** All 3^k neighbor-cell offsets (including the zero offset). */
  private[graft] def offsets(k: Int): Seq[Seq[Int]] =
    (0 until k).foldLeft(Seq(Seq.empty[Int])) { (acc, _) =>
      for (o <- acc; d <- -1 to 1) yield o :+ d
    }

  /** The "positive half" of the non-zero offsets: first non-zero component
    * is +1. For any two DISTINCT adjacent cells exactly one of (c_b−c_a,
    * c_a−c_b) is positive — so replicating probes along positive offsets
    * only finds each cross-cell pair exactly once (and halves the join
    * work vs full 3^k replication). */
  private[graft] def positiveOffsets(k: Int): Seq[Seq[Int]] =
    offsets(k).filter(o => o.dropWhile(_ == 0).headOption.contains(1))

  /** Default skew budget: a build-side cell shard above this many rows
    * gets split across salt shards. 64 Ki rows × a dense probe is already
    * a multi-second reducer; cells below it are AQE's problem, not ours. */
  val DefaultRowsPerTask: Long = 65536L

  /** Max salt shards for one cell — bounds probe replication on a
    * pathological cell (probe rows in a salted cell replicate ×nsalt). */
  val DefaultMaxSalt: Int = 64

  /** Probe the ε-cell histogram and return the per-cell salt table
    * `(cell, nsalt)` for cells denser than `rowsPerTask` — or None when
    * no cell is dense (the common case: zero overhead downstream).
    *
    * Per-cell (not uniform) salting: a global salt factor would
    * replicate EVERY probe row ×salt to spread ONE hot cell; the salt
    * table confines the replication to the dense cells themselves.
    * AQE can split post-shuffle files but not a single giant hash
    * group, so one ultra-dense ε-cell otherwise pins a reducer.
    *
    * The table is driver-collected and broadcast: bounded by
    * `maxDenseCells` top cells (densest first) — salting only the top
    * cells is exactly the point, the tail is AQE-sized by definition.
    * One linear aggregate job; call on the distributed path only. */
  def denseCellSalts(points: DataFrame, vecCol: String, eps: Double,
      bucketDims: Seq[Int], rowsPerTask: Long = DefaultRowsPerTask,
      maxSalt: Int = DefaultMaxSalt,
      maxDenseCells: Int = 65536): Option[DataFrame] = {
    if (bucketDims.isEmpty) return None // k=0 brute path has no cells
    require(rowsPerTask >= 1, s"rowsPerTask must be >= 1, got $rowsPerTask")
    val cellOf: Column => Column = VectorOps.cellId(_, eps, bucketDims)
    val spark = points.sparkSession
    val dense = ConnectedComponents.withJobDesc(points,
      "denseCellSalts: cell histogram probe") {
      points.select(cellOf(col(vecCol)).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > rowsPerTask)
        .orderBy(col("cnt").desc, col("cell"))
        .limit(maxDenseCells)
        .select(col("cell"),
          least(ceil(col("cnt").cast("double") / rowsPerTask),
            lit(maxSalt)).cast("int").as("nsalt"))
        .collect()
    }
    if (dense.isEmpty) None
    else Some(spark.createDataFrame(
      spark.sparkContext.parallelize(dense.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false),
        org.apache.spark.sql.types.StructField("nsalt",
          org.apache.spark.sql.types.IntegerType, nullable = false)))))
  }

  /** Ordered neighbor pairs `(a_id, b_id, d2)` with d2 ≤ ε², a ≠ b.
    * Each ordered pair appears exactly once. For skew, salt the dense
    * cells with [[selfJoinSalted]] and [[denseCellSalts]]. */
  def selfJoin(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, bucketDims: Seq[Int]): DataFrame =
    selfJoinSalted(points, idCol, vecCol, eps, bucketDims, None)

  /** [[selfJoin]] with a per-cell salt table from [[denseCellSalts]]:
    * rows in a dense cell split into `nsalt` build shards (build row →
    * one shard by id hash; probe rows targeting that cell replicate
    * ×nsalt), so the cell fans out across `nsalt` reducers instead of
    * pinning one task; every other cell joins unsalted. Results are
    * bit-identical to the unsalted join. */
  def selfJoinSalted(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, bucketDims: Seq[Int],
      saltTable: Option[DataFrame]): DataFrame = {
    val k = bucketDims.size
    val cell: Column => Column = VectorOps.cellId(_, eps, bucketDims)

    val build0 = points.select(
      col(idCol).as("b_id"), col(vecCol).as("b_v"),
      cell(col(vecCol)).as("cell"))
    val build = saltTable match {
      case Some(st) =>
        // dense cells get hash-sharded builds; absent cells salt to 0
        build0.join(broadcast(st), Seq("cell"), "left")
          .withColumn("salt", when(col("nsalt").isNull, lit(0))
            .otherwise(pmod(xxhash64(col("b_id")), col("nsalt").cast("long"))
              .cast("int")))
          .drop("nsalt")
      case None => build0.withColumn("salt", lit(0))
    }

    val home0 = points.select(
      col(idCol).as("a_id"), col(vecCol).as("a_v"),
      cell(col(vecCol)).as("home"))
    // Brute-force path (k = 0): the cell key is one constant, so the
    // planner degenerates to a broadcast nested-loop join whose
    // parallelism is the STREAMED side's partition count — a small
    // single-file input would run the whole O(n²) distance scan on one
    // core. Redistribute the probe side first: the shuffle is linear and
    // negligible next to the quadratic scan it parallelizes.
    val home = if (k == 0) home0.repartition(col("a_id")) else home0
    def salted(df: DataFrame): DataFrame = saltTable match {
      case Some(st) =>
        // probe rows targeting a dense cell replicate across its shards
        df.join(broadcast(st), Seq("cell"), "left")
          .withColumn("salt", explode(when(col("nsalt").isNull,
              array(lit(0)))
            .otherwise(sequence(lit(0), col("nsalt") - 1))))
          .drop("nsalt")
      case None => df.withColumn("salt", lit(0))
    }

    // Each UNDIRECTED pair is produced exactly once:
    //  - same cell: equi-join on the home cell, a_id < b_id;
    //  - adjacent cells: probes replicated along the positive offset
    //    half-space only (cells differ ⇒ a ≠ b, no id filter needed).
    // This halves both replication (1 + (3^k−1)/2 probe rows) and distance
    // evaluations vs full 3^k replication; both orientations are emitted
    // at the end by a narrow projection union.
    val sameCell = salted(home.select(col("a_id"), col("a_v"),
        col("home").as("cell")))
      .join(build, Seq("cell", "salt"))
      .filter(col("a_id") < col("b_id"))
    val crossCell =
      if (k == 0) sameCell.limit(0)
      else salted(home
        .withColumn("off", explode(typedlit(positiveOffsets(k))))
        .select(col("a_id"), col("a_v"),
          zip_with(col("home"), col("off"), (h, o) => h + o.cast("long"))
            .as("cell")))
        .join(build, Seq("cell", "salt"))

    // membership first with the early-exit predicate (most candidates are
    // far — the fold exits in O(1) dims), then the full d2 fold only for
    // the surviving pairs; both fold left-to-right in double, so the
    // emitted d2 and the predicate agree exactly with squaredL2 <= ε²
    val undirected = sameCell.union(crossCell)
      .filter(VectorExpressions.withinEps(col("a_v"), col("b_v"), eps * eps))
      .select(col("a_id"), col("b_id"),
        VectorExpressions.squaredL2(col("a_v"), col("b_v")).as("d2"))
    // both orientations in ONE pass (a union of the subtree with its own
    // projection would re-execute the join twice)
    undirected.select(explode(array(
        struct(col("a_id"), col("b_id"), col("d2")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"), col("d2"))))
      .as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.d2").as("d2"))
  }

  /** High-dimensional ε self-join on the [[DbscanTiles]] router — the
    * path for inputs whose dimensionality defeats the ε-grid equi-join
    * ([[selfJoin]] buckets at most 3 dims; on 64-d embeddings with small
    * ε a 3-dim grid prunes weakly and candidate sets grow toward
    * quadratic). This is the reference's own architecture, one halo
    * exchange feeding one kd-tree per partition (`mpi_main.cpp:161-168`):
    *
    *   - tiles at halo reach ε over ≤ 3 spread-picked dims
    *     ([[DbscanTiles.base]]), overfull tiles halved down to the 2ε
    *     floor ([[DbscanTiles.fit]]) — GP-1's ownership boxes;
    *   - each point lands in its home tile as an owner and in every tile
    *     within ε as a ghost (GP-2, `geometric_partitioning.cpp:32-235`),
    *     grouped by one sorted shuffle ([[DbscanTiles.groups]]);
    *   - per tile one [[graft.functions.KdTree]] over owners + ghosts and
    *     a radius query per owner (IX-1/IX-2): all-dims pruning the grid
    *     path cannot do.
    *
    * Exactly-once: a is an owner in precisely its home tile, and every b
    * with ‖a−b‖ ≤ ε is in that tile, so each ordered pair is emitted
    * once, both orientations naturally. Output contract identical to
    * [[selfJoin]]: (a_id, b_id, d2), a ≠ b, d2 bit-equal to the
    * codegen'd squaredL2 fold; rows with a null id or vector are left
    * out.
    *
    * Memory: a tile still over the row cap at the floor (a dense blob)
    * is split into ⌈rows/cap⌉ tree shards × as many query shards
    * ([[DbscanTiles.pairRows]]), so a task buffers about one cap of tree
    * rows plus one cap of queries, however dense the data. When the row
    * count runs (more vectors than the cap), the input is pinned across
    * it and the routed shuffle: a nondeterministic upstream re-evaluated
    * between the two could leave a dense tile unsharded (a broken memory
    * bound, not wrong pairs). Spark's ContextCleaner unpersists it once
    * the result is dropped.
    *
    * Honest limit: on data that is quasi-UNIFORM across many dims at the
    * query radius, no spatial index prunes (boxes only split along
    * O(log n/bucket) dims, the rest span the full range — the classic
    * high-d kd-tree degradation); candidates degrade toward all-pairs
    * with O(few-dims) early-exit cost per candidate, i.e. parity with
    * the grid path, not a win. The win case is CLUSTER structure:
    * separated blobs prune across blobs on the first splits. For
    * similarity (cosine) workloads at scale, route to the SRP-LSH / IVF
    * paths in [[AnnSearch]] instead.
    *
    * @param distEvals optional accumulator collecting the number of
    *   exact distance evaluations (the candidate count) — lets callers
    *   assert the candidate ratio stays bounded. */
  def selfJoinKd(points: DataFrame, idCol: String, vecCol: String,
      eps: Double,
      distEvals: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    selfJoinKdTiled(points, idCol, vecCol, eps, distEvals, None,
      DbscanTiles.DefaultMaxTileRows)

  /** [[selfJoinKd]] with the base tile side (None sizes it from the
    * ranges pass, at least 2ε) and the per-tile row cap given. */
  private[graft] def selfJoinKdTiled(points: DataFrame, idCol: String,
      vecCol: String, eps: Double,
      distEvals: Option[org.apache.spark.util.LongAccumulator],
      tileWidth: Option[Double], maxTileRows: Long): DataFrame = {
    require(java.lang.Double.isFinite(eps) && eps > 0,
      s"eps must be positive and finite, got $eps")
    requireKdCompatible(points, idCol, vecCol, "selfJoinKd")
    val spark = points.sparkSession
    val partitions = spark.sessionState.conf.numShufflePartitions
    DbscanTiles.base(points, vecCol, eps, Nil, tileWidth, "eps-pairs") match {
      case None => emptyPairs(spark)
      case Some((base, vectors)) =>
        val routed = DbscanTiles.points(points, idCol, vecCol)
        val rows = if (vectors <= maxTileRows) routed
          else routed.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val (tiles, over) = DbscanTiles.fit(rows, base, maxTileRows,
          partitions, "eps-pairs", vectors)
        val shards = over.map { case (leaf, n) =>
          leaf -> math.ceil(n.toDouble / maxTileRows).toInt }
        val r2 = eps * eps
        spark.createDataFrame(
          DbscanTiles.groups(rows, partitions)(tiles.pairRows(shards))
            .flatMap(tilePairs(_, r2, distEvals)),
          pairSchema)
    }
  }

  /** The pairs of one tile group: one kd-tree over its index rows (every
    * role but `Query`) and a radius query per query row (every role but
    * `Ghost`). */
  private def tilePairs(
      rows: scala.collection.mutable.ArrayBuffer[DbscanTiles.TileRow], r2: Double,
      acc: Option[org.apache.spark.util.LongAccumulator]): Iterator[Row] = {
    val queries = rows.filter(_._1 != DbscanTiles.Ghost)
    // a ghost-only tile runs no query: skip the O(m log m) tree build
    if (queries.isEmpty) return Iterator.empty
    val indexed = rows.filter(_._1 != DbscanTiles.Query)
    val tree = new graft.functions.KdTree(indexed.map(_._3).toArray)
    // the lazy ++ tail runs AFTER the queries exhaust, so the accumulator
    // sees the tile's evals without materializing its whole (potentially
    // O(m²)) pair output
    queries.iterator.flatMap { case (_, aId, aV) =>
      val hits = scala.collection.mutable.ArrayBuffer.empty[Row]
      tree.radiusQuery(aV, r2, (bi, d2) => {
        val bId = indexed(bi)._2
        if (bId != aId) hits += Row(aId, bId, d2)
      })
      hits
    } ++ { acc.foreach(_.add(tree.distEvals)); Iterator.empty }
  }
}
