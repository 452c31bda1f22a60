package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental DBSCAN — fold batches of new points in, and batches of
  * deleted points out, of a standing clustering without re-clustering
  * the corpus. The reference re-clusters from scratch on every run
  * (`mpi_main.cpp:137-186` — read file, build kd-tree, full ε-graph);
  * this operator maintains the clustering as an updatable state, the
  * shape a 100 TB corpus that grows by daily batches actually needs.
  *
  * Every fold, [[init]] included, runs in [[Dbscan.run]]'s tile shape
  * (PDSDBSCAN-D's geometric partition, ε-halo and boundary-only merge)
  * but re-solves only the tiles the batch touches:
  *   1. touched tiles: every tile whose box, grown by 2ε, holds an
  *      added point or a removed point with an ε-neighbor; on a
  *      removal, also the home tiles of every surviving core of a
  *      component with a core in those tiles (such a component may
  *      split);
  *   2. the new corpus is routed to the touched tiles only, and the
  *      shared state kernel ([[IncrDbscanLocal.stateFacts]]) reports
  *      each owner's count, its local component or border pairs, and
  *      links for ghost cores;
  *   3. every other row of the standing state carries over: no changed
  *      point lies within 2ε of its owner, so its count, core flag and
  *      border pairs are unchanged;
  *   4. connected components over the links, the touched cores' local
  *      components and `(core → old component)` stars for components
  *      that cannot split give the touched cores their components, and
  *      map the old components of the untouched cores.
  * No ε-pair is ever materialized.
  *
  * Labels from [[labels]] are IDENTICAL to a from-scratch
  * [[Dbscan.run]] over the live corpus (spec-enforced): same min-id
  * components, same dense-id ordering, same minClusterSize/noise
  * rules.
  *
  * State tables are plain DataFrames (persist/checkpoint/write them
  * like any other); ids must be unique across ALL batches.
  */
object IncrementalDbscan {

  /** The standing clustering.
    * @param points every point seen so far (id, vec)
    * @param counts ε-neighbor counts EXCLUDING self (id, n) — points
    *   with zero neighbors may be absent (missing = 0)
    * @param coreComp min-id connected components of the core-core
    *   ε-graph (id, comp)
    * @param borderPairs every (non-core point, core point) ε-pair
    *   (id, core_id) — the attachment candidates */
  final case class State(points: DataFrame, counts: DataFrame,
      coreComp: DataFrame, borderPairs: DataFrame)

  /** Pin a state: eagerly `localCheckpoint` all four tables, severing
    * lineage so later folds and [[labels]] plan against shallow cached
    * leaves instead of the whole history's DAG. Without pinning, the
    * state plans deepen per fold and OPTIMIZER/codegen time — not data
    * — dominates (a 500-point fold measured ~3× slower unpinned). The
    * streaming ingest pins every batch; batch callers should pin after
    * [[init]] and after each [[addPoints]]. */
  def pin(st: State): State =
    State(st.points.localCheckpoint(), st.counts.localCheckpoint(),
      st.coreComp.localCheckpoint(), st.borderPairs.localCheckpoint())

  /** Bump when the on-disk layout of [[saveState]] changes shape. */
  private val FormatVersion = 1

  /** Durable save of the standing clustering — the missing half of the
    * daily-batch contract: [[init]] once, [[saveState]], then every
    * later session [[loadState]]s and folds its delta without ever
    * re-clustering the corpus (the reference re-reads and re-clusters
    * the whole file each run, `mpi_main.cpp:137-186`). Four parquet
    * tables plus a one-row `manifest` carrying the clustering
    * parameters; the manifest is written LAST, so its presence marks a
    * complete state (a crashed save leaves no manifest and
    * [[loadState]] refuses it). Each table writes with its DataFrame's
    * own parallelism — at 100 TB the state is cluster-wide parquet like
    * any other table, nothing funnels through the driver. */
  def saveState(st: State, dir: String, eps: Double, minPts: Int,
      bucketDims: Seq[Int]): Unit = {
    val spark = st.points.sparkSession
    // INVALIDATE before touching data: when overwriting an existing
    // state, the previous save's manifest must not survive into the
    // window where data tables are partially replaced — a crash there
    // would otherwise leave a stale-but-present manifest over corrupt
    // tables and loadState would accept it. Deleting the manifest first
    // restores the documented guarantee for re-saves too: no manifest
    // until every data table of THIS save has landed.
    val mPath = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(mPath)) fs.delete(mPath, true)
    st.points.write.mode("overwrite").parquet(s"$dir/points")
    st.counts.write.mode("overwrite").parquet(s"$dir/counts")
    st.coreComp.write.mode("overwrite").parquet(s"$dir/core_comp")
    st.borderPairs.write.mode("overwrite").parquet(s"$dir/border_pairs")
    import spark.implicits._
    // commit marker — one row, written after every data table landed
    Seq((FormatVersion, eps, minPts, bucketDims))
      .toDF("format_version", "eps", "min_pts", "bucket_dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
  }

  /** Load a [[saveState]]d clustering for further folds. The caller
    * restates the parameters it intends to fold with and the manifest
    * GUARDS them: folding a state built at one (eps, minPts) with
    * another silently corrupts the count/core/component invariants, so
    * a mismatch throws with both sides. `bucketDims` mismatches are
    * equally rejected — the ε-cell geometry must match the standing
    * pair state's. Loaded tables read straight from parquet (no lineage
    * to the building session); q235 oracles load → [[removePoints]] →
    * [[labels]] against the from-scratch pipeline. */
  def loadState(spark: SparkSession, dir: String, eps: Double,
      minPts: Int, bucketDims: Seq[Int]): State = {
    val m =
      try spark.read.parquet(s"$dir/manifest").head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$dir holds no complete saved state (no manifest — " +
              "interrupted saveState?)", e)
      }
    val mv = m.getAs[Int]("format_version")
    require(mv == FormatVersion,
      s"state at $dir has format_version=$mv, this build reads " +
        s"$FormatVersion")
    val (me, mp, md) = (m.getAs[Double]("eps"), m.getAs[Int]("min_pts"),
      m.getAs[scala.collection.Seq[Int]]("bucket_dims").toSeq)
    require(me == eps && mp == minPts && md == bucketDims,
      s"state at $dir was built with (eps=$me, minPts=$mp, " +
        s"bucketDims=$md); folding it with (eps=$eps, minPts=$minPts, " +
        s"bucketDims=$bucketDims) would corrupt the standing invariants")
    State(spark.read.parquet(s"$dir/points"),
      spark.read.parquet(s"$dir/counts"),
      spark.read.parquet(s"$dir/core_comp"),
      spark.read.parquet(s"$dir/border_pairs"))
  }

  /** Bootstrap the state with one full clustering pass.
    * @param localThreshold fused single-task path below this corpus
    *   size (probe-guarded; bit-identical tables — see
    *   [[IncrDbscanLocal]]); 0 forces the distributed build. */
  def init(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int, bucketDims: Seq[Int],
      localThreshold: Long = IncrDbscanLocal.defaultThreshold): State = {
    val sel = points.select(col(idCol).as("id"), col(vecCol).as("vec"))
    if (localThreshold > 0 && GraphAnnLocal.idVecShape(sel, "id", "vec")) {
      val n = ConnectedComponents.withJobDesc(sel, "incr-dbscan: size probe") {
        sel.limit(Dbscan.probeCap(localThreshold)).count()
      }
      if (n <= localThreshold)
        return IncrDbscanLocal.stateFused(sel, None, eps, minPts,
          bucketDims)
    }
    fold(empty(sel.sparkSession), Some(sel), None, eps, minPts, bucketDims)
  }

  /** Fold one batch of new points in (ids must be fresh).
    * @param localThreshold fused single-task rebuild below this
    *   combined corpus size — the state is a pure function of the
    *   corpus (see [[IncrDbscanLocal]]), so the rebuilt tables are
    *   bit-identical to the incremental fold's; 0 forces incremental. */
  def addPoints(st: State, newPoints: DataFrame, idCol: String,
      vecCol: String, eps: Double, minPts: Int,
      bucketDims: Seq[Int],
      localThreshold: Long = IncrDbscanLocal.defaultThreshold): State = {
    val npSel = newPoints.select(col(idCol).as("id"), col(vecCol).as("vec"))
    if (localThreshold > 0 && GraphAnnLocal.idVecShape(npSel, "id", "vec") &&
        GraphAnnLocal.idVecShape(st.points, "id", "vec")) {
      val cap = Dbscan.probeCap(localThreshold)
      val total =
        ConnectedComponents.withJobDesc(npSel, "incr-dbscan: size probe") {
          st.points.limit(cap).count() + npSel.limit(cap).count()
        }
      if (total <= localThreshold)
        return IncrDbscanLocal.stateFused(
          st.points.select("id", "vec").unionAll(npSel), None, eps, minPts,
          bucketDims)
    }
    fold(st, Some(npSel), None, eps, minPts, bucketDims)
  }

  /** Fold one batch of DELETED points out of the standing clustering —
    * the decremental dual of [[addPoints]] (retention windows, GDPR
    * erasure, corpus retractions). A removal can demote cores and split
    * components, so besides the tiles within 2ε of a deleted point the
    * fold re-solves every tile that owns a surviving core of a
    * component that may split (see the object doc).
    *
    * Labels afterwards are IDENTICAL to a from-scratch [[Dbscan.run]]
    * over the surviving corpus (spec-enforced; q231 folds a 10% delete
    * against the from-scratch DuckDB oracle). Ids in `removeIds` that
    * are not in the state are ignored. */
  def removePoints(st: State, removeIds: DataFrame, idCol: String,
      eps: Double, minPts: Int, bucketDims: Seq[Int],
      localThreshold: Long = IncrDbscanLocal.defaultThreshold): State = {
    val rm = removeIds.select(col(idCol).as("id"))
    if (localThreshold > 0 &&
        GraphAnnLocal.idVecShape(st.points, "id", "vec")) {
      val n = ConnectedComponents.withJobDesc(st.points,
          "decr-dbscan: size probe") {
        st.points.limit(Dbscan.probeCap(localThreshold)).count()
      }
      if (n <= localThreshold)
        // removed ids subtract INSIDE the task (unknown ids ignored,
        // the contract below); the rebuilt state is bit-identical to
        // the incremental fold's — see IncrDbscanLocal
        return IncrDbscanLocal.stateFused(st.points.select("id", "vec"),
          Some(rm), eps, minPts, bucketDims)
    }
    fold(st, None, Some(rm), eps, minPts, bucketDims)
  }

  /** The state with no points: [[init]] folds its corpus into it. */
  private[graft] def empty(spark: SparkSession): State = {
    def table(fields: (String, DataType)*) =
      spark.createDataFrame(java.util.Collections.emptyList[Row],
        StructType(fields.map { case (n, t) => StructField(n, t) }))
    State(table("id" -> LongType, "vec" -> ArrayType(FloatType)),
      table("id" -> LongType, "n" -> LongType),
      table("id" -> LongType, "comp" -> LongType),
      table("id" -> LongType, "core_id" -> LongType))
  }

  /** Base tiles per shuffle partition for the fold, 16× [[Dbscan.run]]'s
    * 4: smaller tiles cost more ghosts but keep a localized batch from
    * touching the whole corpus. On the 500k localized delete at
    * local[4] (`dbscan_state_rt_synth500k`), fold + pin + labels took
    * 21 s at 4, 16 s at 64 and 20 s at 512. */
  private val FoldCellsPerCore = 64

  /** The distributed fold: the state of the corpus `st.points` −
    * `removedIds` + `added` (both `id`-keyed, `added` with `vec`),
    * re-solving only the touched tiles (see the object doc). Distances
    * fold in float, as in [[Dbscan.run]].
    *
    * Why the untouched rows stand: an owner outside the touched tiles
    * has no changed point within 2ε, so its ε-neighbors and their core
    * flags are unchanged, and so are its count, core flag and border
    * pairs. Its component can still change: an add only merges
    * components, and a component that may split on a removal has every
    * surviving core in a touched tile. Each old component that cannot
    * split and owns a core in a touched tile enters the merge as a star
    * `(core → comp)`, so the cores it keeps outside the touched tiles
    * take their old component mapped through the merge; one that owns
    * none is a whole component of the new core graph and keeps its id.
    *
    * @param tileWidth the base tile side; None sizes it for
    *   [[FoldCellsPerCore]] tiles per shuffle partition
    * @param maxTileRows owners + ghosts a tile may hold before it is
    *   halved (down to the 4ε floor) */
  private[graft] def fold(st: State, added: Option[DataFrame],
      removedIds: Option[DataFrame], eps: Double, minPts: Int,
      bucketDims: Seq[Int], tileWidth: Option[Double] = None,
      maxTileRows: Long = EpsilonJoin.DefaultMaxKdCellRows): State = {
    val spark = st.points.sparkSession
    val partitions = spark.sessionState.conf.numShufflePartitions
    added.foreach(requireFreshIds(st, _))
    val rm = removedIds.map(_.select("id").distinct().persist())
    val all = added.fold(st.points)(st.points.union(_))
    val points = rm.fold(all)(all.join(_, Seq("id"), "left_anti")).persist()
    // a removed point without an ε-neighbor changes no other point's
    // row; it leaves only its own, a singleton core's when minPts <= 1
    val unchanged = State(points, st.counts,
      rm.fold(st.coreComp)(st.coreComp.join(_, Seq("id"), "left_anti")),
      st.borderPairs)
    val base = DbscanTiles.base(all, "vec", eps, bucketDims, tileWidth,
        "incr-dbscan: tile", FoldCellsPerCore) match {
      case None => return unchanged // no vector to cluster
      case Some(b) => b
    }
    val corpus = DbscanTiles.points(points, "id", "vec")
    val tiles = DbscanTiles.fit(corpus, base, maxTileRows, partitions)
    // 1. the tiles within 2ε of a changed point (an added point, or a
    //    removed point with an ε-neighbor) ...
    val changed = DbscanTiles.points((rm.map(r => st.points
        .join(r.join(st.counts.select("id"), "id"), "id")) ++ added)
      .reduce(_.union(_)), "id", "vec")
    val near = ConnectedComponents.withJobDesc(spark.sparkContext,
        "incr-dbscan: tile touched set") {
      changed.flatMap { case (_, v) =>
        val (home, ghosts) = tiles.route(v)
        home +: ghosts
      }.distinct(partitions).collect().toSet
    }
    if (near.isEmpty) return unchanged
    // ... and on a removal the homes of every core of a component with
    // a core owned near the change: such a component may split
    val (touched, splitting) = rm match {
      case None => (near, None)
      case Some(_) =>
        val comps = st.coreComp.join(st.points, "id")
          .select(col("comp").cast("long"), col("vec").cast("array<float>"))
          .filter(col("vec").isNotNull)
          .rdd.map(r => (r.getLong(0), tiles.home(r.getSeq[Float](1).toArray)))
          .aggregateByKey((false, Set.empty[Vector[Long]]), partitions)(
            (acc, h) => (acc._1 || near(h), acc._2 + h),
            (a, b) => (a._1 || b._1, a._2 ++ b._2))
          .filter(_._2._1)
          .persist()
        val homes = ConnectedComponents.withJobDesc(spark.sparkContext,
            "incr-dbscan: tile split candidates") {
          comps.flatMap(_._2._2).distinct(partitions).collect()
        }
        (near ++ homes, Some(spark.createDataFrame(
          comps.map(c => Row(c._1)),
          StructType(Seq(StructField("comp", LongType, nullable = false))))))
    }
    // 2. re-solve the touched tiles over the new corpus
    // eager: every consumer below reads the facts, and the merge's
    // concurrent query stages would otherwise each run the kernels
    val facts = ConnectedComponents.withJobDesc(spark.sparkContext,
        "incr-dbscan: tile kernel") { spark.createDataFrame(
        DbscanTiles.groups(corpus, tiles, partitions, touched).flatMap { t =>
          val owned = t.map(_._1 != DbscanTiles.Ghost).toArray
          if (!owned.contains(true)) Iterator.empty
          else IncrDbscanLocal.stateFacts(t.map(_._2).toArray,
            t.map(_._3).toArray, owned, eps, minPts, tiles.dims)
        }.map(f => Row(f._1, f._2, f._3)),
        StructType(Seq(StructField("tag", ByteType, nullable = false),
          StructField("id", LongType, nullable = false),
          StructField("aux", LongType, nullable = false))))
      .localCheckpoint()
    }
    def tagged(tag: Byte, aux: String) =
      facts.filter(col("tag") === tag).select(col("id"), col("aux").as(aux))
    val owners = tagged(IncrDbscanLocal.Count, "n")
    val cores = tagged(IncrDbscanLocal.Core, "comp")
    // 3. rows of ids neither owned in a touched tile nor removed stand
    val drop = rm.fold(owners.select("id"))(owners.select("id").union(_))
    def kept(t: DataFrame) = t.join(drop, Seq("id"), "left_anti")
    // 4. merge: links, touched cores → local comps, stars of the old
    //    components that cannot split
    val stars = splitting.fold(st.coreComp)(
        st.coreComp.join(_, Seq("comp"), "left_anti"))
      .join(cores.select("id"), "id")
      .select(col("id").as("src"), col("comp").as("dst"))
    val global = ConnectedComponents.run(
        tagged(IncrDbscanLocal.Link, "dst").select(col("id").as("src"),
          col("dst"))
        .union(cores.select(col("id").as("src"), col("comp").as("dst")))
        .union(stars))
      .persist()
    val comp = cores.select("id").join(global, "id")
      .union(kept(st.coreComp)
        .join(global.select(col("id").as("comp"), col("comp").as("g")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("g"), col("comp")).as("comp")))
    State(points,
      owners.filter(col("n") > 0).union(kept(st.counts)),
      comp,
      tagged(IncrDbscanLocal.Border, "core_id").union(kept(st.borderPairs)))
  }

  /** The fused path's duplicate-id rule on the distributed fold: an
    * added id must be new to the batch and to the state. */
  private def requireFreshIds(st: State, added: DataFrame): Unit = {
    val ids = added.select("id").filter(col("id").isNotNull)
    val dup = ConnectedComponents.withJobDesc(added,
        "incr-dbscan: tile id check") {
      ids.groupBy("id").count().filter(col("count") > 1).select("id")
        // the batch is the small side: let it build the semi join
        .union(st.points.select("id").join(ids, Seq("id"), "left_semi"))
        .limit(1).collect()
    }
    require(dup.isEmpty, "incremental DBSCAN requires unique point ids, " +
      s"got duplicate ${dup.head.get(0)}")
  }

  /** Labels under [[Dbscan.run]]'s exact contract: (`id`,
    * `cluster_id`), noise = 0, dense ids from 1 ordered by component
    * minimum id, components under `minClusterSize` dropped to noise. */
  def labels(st: State, minClusterSize: Int = 2): DataFrame = {
    val borderComp = st.borderPairs
      .join(st.coreComp.withColumnRenamed("id", "core_id"), "core_id")
      .groupBy(col("id"))
      .agg(min("comp").as("comp"))
    val labeled = st.coreComp.union(borderComp).persist()
    // Same dense-id scheme as Dbscan.run (see [[Dbscan.denseCompIds]]:
    // the comp table is broadcast-bounded by contract, so the
    // one-partition window adds zero exchanges)
    val compIds = Dbscan.denseCompIds(labeled, minClusterSize)
    val withIds = labeled.join(broadcast(compIds), "comp")
      .select(col("id"), col("cluster_id"))
    st.points.select(col("id"))
      .join(withIds, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), lit(0)).as("cluster_id"))
  }
}
