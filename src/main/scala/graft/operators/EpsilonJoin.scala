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
  */
object EpsilonJoin {

  /** The (a_id, b_id, d2) frame every ε-join path emits — one shared
    * definition so the kd RDD paths and the empty-input short-circuits
    * cannot drift apart. */
  private val pairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("a_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("b_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("d2",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  private def emptyPairs(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pairSchema)

  /** Every coarse cell the per-dim range [lo(j), hi(j)] touches (the
    * ±ε ghost envelope, home cell included) of the kd self-join
    * shuffle. Lazy: nothing materializes beyond the recursion frame. */
  private def envelopeCells(lo: Array[Long], hi: Array[Long])
      : Iterator[List[Long]] = {
    val k = lo.length
    def rec(i: Int): Iterator[List[Long]] =
      if (i == k) Iterator(Nil)
      else (lo(i) to hi(i)).iterator.flatMap(c => rec(i + 1).map(c :: _))
    rec(0)
  }

  /** Whether the kd path's physical contract holds for these columns:
    * ids must be integral (the path shuffles raw (long, float[]) tuples)
    * and vectors must be `array<float>` ([[graft.functions.KdTree]] is
    * float-typed — its d² fold over float inputs is the bit-parity
    * contract with the codegen'd squaredL2). The auto routers divert to
    * kd only when this holds; anything else (string ids, double
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
    * `geometric_partitioning.cpp:430-437`). One aggregate pass. */
  def pickBucketDims(points: DataFrame, vecCol: String, eps: Double,
      maxDims: Int = 3, minCellsPerDim: Int = 4,
      knownDim: Int = -1): Seq[Int] = {
    // knownDim skips the one-row probe job when the caller already knows
    // the dimensionality (e.g. from the binary file header)
    val dim =
      if (knownDim > 0) knownDim
      else graft.functions.VectorOps.probeDim(points, vecCol).getOrElse(0)
    if (dim == 0) return Nil // empty input: no dims to pick, k=0 is fine
    val aggs = (0 until dim).flatMap { d =>
      val c = element_at(col(vecCol), d + 1).cast("double")
      Seq(min(c).as(s"mn$d"), max(c).as(s"mx$d"))
    }
    val row = ConnectedComponents.withJobDesc(points, "pickBucketDims: ranges") {
      points.agg(aggs.head, aggs.tail: _*).first()
    }
    if (row.isNullAt(0)) return Nil // knownDim set but zero rows
    val ranges = (0 until dim).map(d =>
      d -> (row.getDouble(2 * d + 1) - row.getDouble(2 * d)))
    ranges
      .filter { case (_, r) => r / eps >= minCellsPerDim }
      .sortBy { case (d, r) => (-r, d) }
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

  /** High-dimensional ε self-join through per-partition k-d trees — the
    * fallback for inputs whose dimensionality defeats the ε-grid
    * equi-join ([[selfJoin]] buckets at most 3 dims; on 64-d embeddings
    * with small ε a 3-dim grid prunes weakly and candidate sets grow
    * toward quadratic). This is the reference's own architecture mapped
    * onto Spark primitives, one stage each:
    *
    *   - COARSE spatial partition: home cell = floor(coord/cellSize)
    *     over ≤ 3 spread-picked dims (GP-1, the median-split ownership
    *     boxes — ours are grid-aligned, load balance via cell count);
    *   - ε-halo ghost replication: each point also lands in every cell
    *     whose box its per-dim ±ε envelope touches (GP-2,
    *     `geometric_partitioning.cpp:32-235`), so a cell sees its whole
    *     ε-border; cellSize ≥ ε keeps the envelope ≤ 2–3 cells per dim;
    *   - per-cell [[graft.functions.KdTree]] over owners + ghosts,
    *     radius query per OWNED point (IX-1/IX-2): all-dims pruning
    *     the grid path cannot do.
    *
    * Exactly-once: a appears as OWNER in precisely its home cell, and
    * any b with ‖a−b‖ ≤ ε is present there (owner or ghost, since
    * |a_d − b_d| ≤ ε per dim puts a's home inside b's envelope) — so
    * each ordered pair is emitted once, both orientations naturally.
    * Output contract identical to [[selfJoin]]: (a_id, b_id, d2),
    * a ≠ b, d2 bit-equal to the codegen'd squaredL2 fold.
    *
    * Scale shape: ONE counting pass (exact per-cell row counts; only
    * OVERFULL cells ship to the driver) + ONE hash shuffle on the
    * (cell, salt) key with a secondary sort (tree rows before query
    * rows), then embarrassingly-parallel local index work — no
    * quadratic candidate stream ever materializes. Skew: a coarse cell
    * holding more than `maxCellRows` rows is SALTED — its tree side
    * splits into ⌈rows/cap⌉ hash groups and each of its owner queries
    * replicates to every group, so task memory is bounded by `cap`
    * buffered tree rows regardless of how dense the data is (each pair
    * still meets exactly once: the tree copy of b lives in one group).
    * Normal cells pay nothing beyond the counting pass, and the sort
    * means a task buffers ONE cell group at a time, not every cell
    * hashed to it.
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
      eps: Double, partitionDims: Seq[Int], cellSize: Double,
      distEvals: Option[org.apache.spark.util.LongAccumulator] = None,
      maxCellRows: Int = DefaultMaxKdCellRows): DataFrame = {
    require(partitionDims.nonEmpty, "selfJoinKd needs >= 1 partition dim " +
      "(k = 0 has no spatial split; use selfJoin's brute path)")
    require(cellSize >= eps,
      s"cellSize ($cellSize) must be >= eps ($eps): smaller cells make " +
        "the ghost envelope span many cells without pruning gain")
    require(java.lang.Double.isFinite(eps) && eps > 0,
      s"eps must be positive and finite, got $eps")
    requireKdCompatible(points, idCol, vecCol, "selfJoinKd")
    val spark = points.sparkSession
    val k = partitionDims.size
    val dimsArr = partitionDims.toArray
    val epsL = eps
    val csL = cellSize
    val r2 = eps * eps
    val acc = distEvals
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions

    // The point set is pinned (persisted) across the overfull-cell
    // count probe and the routed shuffle: a nondeterministic upstream
    // re-evaluated between the two passes could leave a genuinely
    // dense cell unsalted (task-memory-bound violation, not wrong
    // pairs). The base carries raw points only — no ghost
    // multiplication — and Spark's ContextCleaner unpersists it once
    // the result lineage is dropped.
    val base = points.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"))
      // the grid path drops null vectors through the withinEps predicate
      // (null ⇒ filter false); the rdd path must drop them explicitly or
      // getSeq NPEs — and a null id must not silently become 0
      .filter(col("id").isNotNull && col("v").isNotNull)
      .rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val keyed = base
      .flatMap { case (id, v) =>
        // per-dim cell range touched by the ±ε envelope (home included)
        val lo = new Array[Long](k)
        val hi = new Array[Long](k)
        val home = new Array[Long](k)
        var j = 0
        while (j < k) {
          val x = v(dimsArr(j)).toDouble
          lo(j) = math.floor((x - epsL) / csL).toLong
          hi(j) = math.floor((x + epsL) / csL).toLong
          home(j) = math.floor(x / csL).toLong
          j += 1
        }
        envelopeCells(lo, hi).map { c =>
          val key = c.toArray
          val owner = java.util.Arrays.equals(key, home)
          (key.toSeq, (owner, id, v))
        }
      }

    // Exact per-cell ROW counts (owners + ghosts = what a task would
    // buffer); only overfull cells reach the driver — their number is
    // bounded by totalRows / cap, and in any non-adversarial geometry
    // by the handful of genuinely dense regions. Each overfull cell
    // maps to its salt-group count ⌈rows/cap⌉.
    val dense: Map[Seq[Long], Int] = keyed
      .map(kv => (kv._1, 1L)).reduceByKey(_ + _)
      .filter(_._2 > maxCellRows)
      .map { case (c, n) =>
        (c, math.ceil(n.toDouble / maxCellRows).toInt)
      }
      .collect().toMap

    // Common case — no cell exceeds the cap: keep the plain hash
    // shuffle + per-partition cell grouping. The salted path's
    // secondary SORT of the whole window stream is only worth paying
    // when an overfull cell actually exists (it measured ~2× on the
    // kdeps_synth200k diagnostic when applied unconditionally).
    if (dense.isEmpty) {
      val pairs = keyed
        .partitionBy(new org.apache.spark.HashPartitioner(shufflePartitions))
        .mapPartitions { it =>
          // group the partition's rows by cell (several cells hash here);
          // every cell is ≤ maxCellRows by the probe above
          val byCell = scala.collection.mutable.HashMap
            .empty[Seq[Long],
              scala.collection.mutable.ArrayBuffer[(Boolean, Long, Array[Float])]]
          it.foreach { case (cell, rec) =>
            byCell.getOrElseUpdate(cell,
              scala.collection.mutable.ArrayBuffer.empty) += rec
          }
          byCell.iterator.flatMap { case (_, rows) =>
            // ghost-only cells (no owner) run zero queries — skip the
            // O(m log m) tree build entirely
            if (!rows.exists(_._1)) Iterator.empty
            else {
              val vecs = rows.map(_._3).toArray
              val tree = new graft.functions.KdTree(vecs)
              // the lazy ++ tail runs AFTER the queries exhaust, so the
              // accumulator sees the cell's evals without materializing
              // the cell's whole (potentially O(m²)) pair output
              rows.iterator
                .filter(_._1)
                .flatMap { case (_, aId, aV) =>
                  val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
                  tree.radiusQuery(aV, r2, (bi, d2) => {
                    val bId = rows(bi)._2
                    if (bId != aId) buf += Row(aId, bId, d2)
                  })
                  buf
                } ++ { acc.foreach(_.add(tree.distEvals)); Iterator.empty }
            }
          }
        }
      return spark.createDataFrame(pairs, pairSchema)
    }
    val denseB = spark.sparkContext.broadcast(dense)

    // route: role 0 = tree row, role 1 = replicated owner query.
    // Normal cells ship one role-0 record per row (owner flag decides
    // who queries, as before). Salted cells ship each row as a tree
    // record into ONE hash group (owner flag off — its query runs via
    // the role-1 replicas) plus, for owners, one query record per
    // group: pair (a, b) is found exactly where b's tree copy lives.
    type Rec = (Boolean, Long, Array[Float])
    val routed = keyed.flatMap { case (cell, rec) =>
      denseB.value.get(cell) match {
        case None => Iterator(((cell, 0, 0), rec))
        case Some(s) =>
          val (owner, id, v) = rec
          val g = (java.lang.Long
            .hashCode(id * 0x9E3779B97F4A7C15L) & 0x7fffffff) % s
          val tree = Iterator(((cell, g, 0), (false, id, v)))
          if (owner)
            tree ++ (0 until s).iterator.map(gq =>
              ((cell, gq, 1), (true, id, v)))
          else tree
      }
    }

    // secondary sort: all records of a (cell, group) arrive contiguous,
    // tree rows (role 0) before query rows (role 1) — a task buffers at
    // most `maxCellRows` tree rows and streams everything else
    import scala.math.Ordering.Implicits.seqOrdering
    implicit val keyOrd: Ordering[(Seq[Long], Int, Int)] =
      Ordering.Tuple3(seqOrdering[Seq, Long], Ordering.Int, Ordering.Int)
    val partitioner = new org.apache.spark.Partitioner {
      override def numPartitions: Int = shufflePartitions
      override def getPartition(key: Any): Int = {
        val (cell, g, _) = key.asInstanceOf[(Seq[Long], Int, Int)]
        (((cell, g).hashCode() % numPartitions) + numPartitions) %
          numPartitions
      }
    }
    val sorted = routed.repartitionAndSortWithinPartitions(partitioner)

    val pairs = sorted.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[Row] {
        private var out: Iterator[Row] = Iterator.empty
        private def startGroup(): Unit = {
          val (cell, g, _) = buf.head._1
          def sameGroup: Boolean = buf.hasNext && {
            val (c2, g2, _) = buf.head._1; c2 == cell && g2 == g
          }
          // role-0 prefix: the group's tree rows (bounded by the cap)
          val rows = scala.collection.mutable.ArrayBuffer.empty[Rec]
          while (sameGroup && buf.head._1._3 == 0) rows += buf.next()._2
          val anyBufferedOwner = rows.exists(_._1)
          if (rows.isEmpty || (!anyBufferedOwner && !sameGroup)) {
            // ghost-only / query-less group: drain stray queries, skip
            // the O(m log m) tree build entirely
            while (sameGroup) buf.next()
            out = Iterator.empty
          } else {
            val tree = new graft.functions.KdTree(rows.map(_._3).toArray)
            def query(aId: Long, aV: Array[Float]): Iterator[Row] = {
              val hits = scala.collection.mutable.ArrayBuffer.empty[Row]
              tree.radiusQuery(aV, r2, (bi, d2) => {
                val bId = rows(bi)._2
                if (bId != aId) hits += Row(aId, bId, d2)
              })
              hits.iterator
            }
            val fromBuffered = rows.iterator
              .filter(_._1).flatMap(r => query(r._2, r._3))
            val fromStreamed = new Iterator[Row] {
              private var cur: Iterator[Row] = Iterator.empty
              override def hasNext: Boolean = {
                while (!cur.hasNext && sameGroup) {
                  val (_, qId, qV) = buf.next()._2
                  cur = query(qId, qV)
                }
                cur.hasNext
              }
              override def next(): Row = { hasNext; cur.next() }
            }
            // the lazy ++ tail runs AFTER the queries exhaust, so the
            // accumulator sees the group's evals without materializing
            // its whole (potentially O(m²)) pair output in memory
            out = fromBuffered ++ fromStreamed ++ {
              acc.foreach(_.add(tree.distEvals)); Iterator.empty
            }
          }
        }
        override def hasNext: Boolean = {
          while (!out.hasNext && buf.hasNext) startGroup()
          out.hasNext
        }
        override def next(): Row = { hasNext; out.next() }
      }
    }
    spark.createDataFrame(pairs, pairSchema)
  }

  /** Per-task buffered-row cap for [[selfJoinKd]]'s coarse cells —
    * beyond it a cell salts into multiple tree groups. 256k rows of
    * 32-d floats ≈ 45 MB of vectors + the index permutation: a few
    * concurrent tasks fit comfortably in an executor heap. */
  val DefaultMaxKdCellRows: Int = 262144

  /** Shared kd partition heuristic: one aggregate pass over `df` picks
    * the coarse-grid dims (widest spread first, ≤ `maxDims`, zero-range
    * dims dropped) and the cell size (grid yields ≈ `cellsPerCore` ×
    * shuffle-parallelism cells, clamped ≥ ε so the ghost envelope stays
    * ≤ 2–3 cells per dim). `fixedDims`, when non-empty, are taken as
    * the dims instead (the pass then only sizes the cells). Returns None
    * for an empty/all-null input; a degenerate input (every point
    * identical along every dim) gets the one-cell fallback
    * `(Seq(0), eps)`. */
  private[operators] def kdHeuristic(df: DataFrame, vecCol: String,
      eps: Double, maxDims: Int, cellsPerCore: Int, desc: String,
      fixedDims: Seq[Int] = Nil): Option[(Seq[Int], Double)] = {
    val spark = df.sparkSession
    val scanned =
      if (fixedDims.nonEmpty) fixedDims
      else 0 until graft.functions.VectorOps.probeDim(df, vecCol).getOrElse(0)
    if (scanned.isEmpty) return None
    val aggs = scanned.flatMap { d =>
      val c = element_at(col(vecCol), d + 1).cast("double")
      Seq(min(c).as(s"mn$d"), max(c).as(s"mx$d"))
    }
    val row = ConnectedComponents.withJobDesc(df, s"$desc: ranges") {
      df.agg(aggs.head, aggs.tail: _*).first()
    }
    if (row.isNullAt(0)) return None // every vector null
    val spans = scanned.indices
      .map(i => scanned(i) -> (row.getDouble(2 * i + 1) - row.getDouble(2 * i)))
    val ranges =
      if (fixedDims.nonEmpty) spans
      else spans.sortBy { case (d, r) => (-r, d) }.take(maxDims).filter(_._2 > 0)
    if (ranges.isEmpty) return Some((Seq(0), eps))
    val dims = ranges.map(_._1)
    val targetCells =
      math.max(1, cellsPerCore * spark.sessionState.conf.numShufflePartitions)
    val volume = ranges.map(_._2).product
    Some((dims,
      math.max(eps, math.pow(volume / targetCells, 1.0 / dims.size))))
  }

  /** [[selfJoinKd]] with the automatic [[kdHeuristic]] partition-dim
    * and cell-size choice. */
  def selfJoinKdAuto(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, maxDims: Int = 3, cellsPerCore: Int = 4,
      distEvals: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    kdHeuristic(points, vecCol, eps, maxDims, cellsPerCore,
      "selfJoinKdAuto") match {
      case None => emptyPairs(points.sparkSession)
      case Some((dims, cellSize)) =>
        selfJoinKd(points, idCol, vecCol, eps, dims, cellSize, distEvals)
    }
}
