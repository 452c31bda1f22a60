package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental DBSCAN — fold batches of NEW points into a standing
  * clustering without ever re-joining the standing corpus against
  * itself. The reference re-clusters from scratch on every run
  * (`mpi_main.cpp:137-186` — read file, build kd-tree, full ε-graph);
  * this operator maintains the clustering as an updatable state, the
  * shape a 100 TB corpus that grows by daily batches actually needs.
  *
  * Insertion-only DBSCAN is monotone: ε-neighbor counts only grow, so
  * core points never demote — the delta work is exactly
  *   1. the batch's ε-pairs: ONE bipartite pass new × (old ∪ new),
  *      distinct-collapsed — never old × old;
  *   2. counts merge; old points crossing minPts are PROMOTED cores,
  *      and only their neighborhoods re-query the old corpus
  *      (bipartite join(promoted × old) — a targeted second delta);
  *   3. connected components over the DELTA core edges plus the
  *      affected old components CONTRACTED to (id → comp) star edges —
  *      untouched components pass through unchanged, and contraction
  *      makes the CC loop O(1)-diameter regardless of cluster shape;
  *   4. border re-attachment from the standing (border, core) pair
  *      state plus the delta pairs.
  *
  * Labels from [[labels]] are IDENTICAL to a from-scratch
  * [[Dbscan.run]] over the union (spec-enforced): same min-id
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
    val pts = sel.persist()
    val pairs = EpsilonJoin.selfJoin(pts, "id", "vec", eps, bucketDims)
      .select(col("a_id"), col("b_id"))
      .persist()
    val counts = pairs.groupBy(col("a_id").as("id"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val cores = coreIds(pts, counts, minPts).persist()
    val coreEdges = pairs
      .join(cores.withColumnRenamed("id", "a_id"), "a_id")
      .join(cores.withColumnRenamed("id", "b_id"), "b_id")
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(cores.select(col("id").as("src"), col("id").as("dst")))
    val comp = ConnectedComponents.run(coreEdges).persist()
    val borders = pairs
      .join(cores.withColumnRenamed("id", "b_id"), "b_id")
      .join(cores.withColumnRenamed("id", "a_id"), Seq("a_id"), "left_anti")
      .select(col("a_id").as("id"), col("b_id").as("core_id"))
      .persist()
    State(pts, counts, comp, borders)
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
    val np = npSel.persist()
    val oldPts = st.points
    val allPts = st.points.union(np).persist()
    // 1. delta ε-pairs in ONE bipartite pass: new × (old ∪ new), self
    //    pairs filtered — the standing corpus never joins itself. The
    //    join emits both orientations, so new↔old pairs land complete;
    //    new↔new pairs are found from BOTH probe sides (each new point
    //    probes) and collapse under distinct() back to the exact
    //    selfJoin(new) ∪ join(new, old) ordered-pair set. One ε-join
    //    subtree instead of two halves the fold's exchange count — the
    //    dominant cost of a small fold is orchestration, not compute.
    val delta = EpsilonJoin.join(np, allPts, "id", "vec", eps, bucketDims)
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
      .persist()
    // 2. merged counts: union + one sum (missing = isolated = 0); both
    //    inputs are strictly positive so the filter survives the merge
    val counts = st.counts
      .union(delta.groupBy(col("a_id").as("id"))
        .agg(count(lit(1)).as("n")))
      .groupBy("id").agg(sum("n").as("n"))
      .persist()
    val wasCore = coreIds(oldPts, st.counts, minPts)
    val nowCore = coreIds(allPts, counts, minPts).persist()
    val promoted = nowCore.join(oldPts.select("id"), "id")
      .join(wasCore, Seq("id"), "left_anti")
      .persist()
    // 3. promoted cores re-query the old corpus for the old-old edges
    //    the delta can't see (their new-side edges are already in delta)
    // promoted ⊂ old, so the bipartite join sees overlapping id sets:
    // drop the resulting self-pairs (promoted-promoted pairs ALSO meet
    // twice — harmless: they land only in the CC edge multiset).
    // Promotion is the RARE event in a sparse fold: one cheap probe
    // prunes the whole re-query subtree (several exchanges) when no old
    // point crossed minPts, instead of scheduling it over empty input.
    val extra =
      if (promoted.isEmpty) delta.limit(0)
      else EpsilonJoin.join(promoted.join(oldPts, "id"), oldPts,
          "id", "vec", eps, bucketDims)
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"))
        .persist()
    val deltaAll = delta.union(extra)
    val coreA = nowCore.withColumnRenamed("id", "a_id")
    val coreB = nowCore.withColumnRenamed("id", "b_id")
    val deltaCoreEdges = deltaAll.join(coreA, "a_id").join(coreB, "b_id")
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .persist()
    // 4. affected old components re-enter CC as contracted stars; the
    //    rest pass through untouched. Fresh cores (new points +
    //    promoted) get self-loops so isolated ones form singletons.
    val touchedComps = st.coreComp
      .join(deltaCoreEdges.select(col("src").as("id")).distinct(), "id")
      .select("comp").distinct()
      .persist()
    val contracted = st.coreComp
      .join(broadcast(touchedComps), "comp")
      .select(col("id").as("src"), col("comp").as("dst"))
    val freshCores = np.select("id").join(nowCore, "id")
      .union(promoted.select("id"))
    val ccInput = contracted
      .union(deltaCoreEdges)
      .union(freshCores.select(col("id").as("src"), col("id").as("dst")))
    val merged = ConnectedComponents.run(ccInput)
    val comp = st.coreComp
      .join(broadcast(touchedComps), Seq("comp"), "left_anti")
      .select("id", "comp")
      .union(merged)
      .persist()
    // 5. border state: promoted points stop being borders; delta pairs
    //    (non-core → core) join in. delta/extra pair sets are disjoint
    //    from the standing pairs (each needs a new or promoted endpoint)
    val borders = st.borderPairs
      .join(promoted, Seq("id"), "left_anti")
      .union(deltaAll
        .join(coreB, "b_id")
        .join(coreA, Seq("a_id"), "left_anti")
        .select(col("a_id").as("id"), col("b_id").as("core_id")))
      .persist()
    State(allPts, counts, comp, borders)
  }

  /** Fold one batch of DELETED points out of the standing clustering —
    * the decremental dual of [[addPoints]] (retention windows, GDPR
    * erasure, corpus retractions). Deletion is anti-monotone: counts
    * only DROP, so no point ever promotes — the delta work is
    *   1. one bipartite ε-pass deleted × remaining (never
    *      remaining × remaining) to find every count decrement;
    *   2. merged counts; old cores falling below minPts are DEMOTED;
    *   3. components touched by a deleted or demoted core may SPLIT,
    *      so exactly those components re-solve: their surviving core
    *      members re-derive their ε-subgraph (core-core edges never
    *      cross components, so the targeted self-join is complete) and
    *      re-enter CC; untouched components pass through unchanged;
    *   4. border retraction (deleted borders, pairs into deleted or
    *      demoted cores) plus re-attachment of the demoted points
    *      themselves as borders of their surviving core neighbors.
    *
    * Labels afterwards are IDENTICAL to a from-scratch [[Dbscan.run]]
    * over the surviving corpus (spec-enforced; q231 folds a 10% delete
    * against the from-scratch DuckDB oracle). Ids in `removeIds` that
    * are not in the state are ignored. */
  def removePoints(st: State, removeIds: DataFrame, idCol: String,
      eps: Double, minPts: Int, bucketDims: Seq[Int],
      localThreshold: Long = IncrDbscanLocal.defaultThreshold): State = {
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
          Some(removeIds.select(col(idCol).as("id"))), eps, minPts,
          bucketDims)
    }
    val rm = removeIds.select(col(idCol).as("id")).distinct().persist()
    val gone = st.points.join(rm, "id").persist() // (id, vec) actually deleted
    if (gone.isEmpty) return st
    val remaining = st.points.join(rm, Seq("id"), "left_anti").persist()
    // 1. every ε-pair with exactly one deleted endpoint; both
    //    orientations arrive, so rows with a surviving a_id are the
    //    complete per-survivor decrement multiset
    val cut = EpsilonJoin.join(gone, remaining, "id", "vec", eps,
        bucketDims)
      .join(rm.withColumnRenamed("id", "a_id"), Seq("a_id"), "left_anti")
      .select(col("a_id"), col("b_id"))
      .persist()
    // 2. merged counts: subtract the decrements, drop deleted rows and
    //    rows reaching zero (missing = isolated = 0, the state contract)
    val dec = cut.groupBy(col("a_id").as("id")).agg(count(lit(1)).as("d"))
    val counts = st.counts
      .join(rm, Seq("id"), "left_anti")
      .join(dec, Seq("id"), "left")
      .select(col("id"), (col("n") - coalesce(col("d"), lit(0L))).as("n"))
      .filter(col("n") > 0)
      .persist()
    val nowCore = coreIds(remaining, counts, minPts).persist()
    val demoted = coreIds(st.points, st.counts, minPts)
      .join(rm, Seq("id"), "left_anti")
      .join(nowCore, Seq("id"), "left_anti")
      .persist()
    // 3. a component is touched iff it lost a core (deletion) or a
    //    member left the core graph (demotion); only those can split.
    //    Deleted non-cores and pure border churn never reshape comps.
    val touchedComps = st.coreComp
      .join(gone.select("id").union(demoted.select("id")).distinct(), "id")
      .select("comp").distinct()
      .persist()
    val (comp, demotedPairs) =
      if (touchedComps.isEmpty) (st.coreComp, None)
      else {
        // ONE ε-self-join over the touched components' surviving
        // still-core members PLUS their demoted points serves both
        // rebuild needs: core-core pairs are the split-deciding edges
        // (they never crossed component boundaries, so the member set
        // is complete), and demoted×core pairs are the border
        // re-attachments (a demoted core's still-core neighbors were
        // connected to it pre-delete, hence live in its — touched —
        // component). Nothing outside the touched neighborhood is
        // scanned twice.
        val members = st.coreComp.join(broadcast(touchedComps), "comp")
          .join(nowCore, "id")
          .join(remaining, "id")
          .select("id", "vec")
          .persist()
        val scope = members
          .unionByName(demoted.join(remaining, "id").select("id", "vec"))
          .persist()
        // wholesale-deleted components (every member gone or demoted)
        // leave an empty scope: skip the ε-join subtree instead of
        // scheduling its whole shuffle pipeline over empty input (the
        // probe is one count on the already-needed cached scope)
        val scopePairs =
          (if (scope.isEmpty) scope.limit(0).select(col("id").as("a_id"),
            col("id").as("b_id"))
          else EpsilonJoin
            .selfJoin(scope, "id", "vec", eps, bucketDims)
            .select(col("a_id"), col("b_id")))
          .persist()
        val coreA = nowCore.withColumnRenamed("id", "a_id")
        val coreB = nowCore.withColumnRenamed("id", "b_id")
        val memberEdges = scopePairs
          .join(coreA, "a_id").join(coreB, "b_id")
          .select(col("a_id").as("src"), col("b_id").as("dst"))
          .union(members.select(col("id").as("src"), col("id").as("dst")))
        val newComp = st.coreComp
          .join(broadcast(touchedComps), Seq("comp"), "left_anti")
          .select("id", "comp")
          .union(ConnectedComponents.run(memberEdges))
          .persist()
        val dp = scopePairs
          .join(demoted.withColumnRenamed("id", "a_id"), "a_id")
          .join(coreB, "b_id")
          .select(col("a_id").as("id"), col("b_id").as("core_id"))
        (newComp, Some(dp))
      }
    // 4. border state: deleted borders go; pairs into deleted or
    //    demoted cores go; demoted points re-attach as borders of
    //    their surviving core neighbors (from the same targeted
    //    self-join — no second corpus-sized pass)
    val keptPairs = st.borderPairs
      .join(rm, Seq("id"), "left_anti")
      .join(rm.withColumnRenamed("id", "core_id"), Seq("core_id"),
        "left_anti")
      .join(demoted.withColumnRenamed("id", "core_id"), Seq("core_id"),
        "left_anti")
      // using-column joins move the join key first — restore (id,
      // core_id) or the positional union below swaps the fields
      .select("id", "core_id")
    val borders = demotedPairs match {
      case Some(dp) => keptPairs.union(dp).persist()
      case None => keptPairs.persist()
    }
    State(remaining, counts, comp, borders)
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

  /** Core rule shared with [[Dbscan.run]]: |N_ε(p)| + self ≥ minPts.
    * minPts ≤ 1 ⇒ every point is core, including isolated ones that
    * the pair-derived count table never saw. */
  private def coreIds(pts: DataFrame, counts: DataFrame,
      minPts: Int): DataFrame =
    if (minPts <= 1) pts.select("id")
    else counts.filter(col("n") + lit(1L) >= lit(minPts.toLong))
      .select("id")
}
