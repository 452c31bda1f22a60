package graft.operators

import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): cosine
  * top-k. Two paths:
  *  - [[bruteForceTopK]] — the exact baseline: query×build candidate join +
  *    per-query top-k window. O(|Q|·|B|) pairs; correct at any scale where
  *    |Q| is bounded (the common "probe a batch of queries" shape).
  *  - [[ivfTopK]] — the scale path: IVF-style inverted file. K-means-lite
  *    centroids (deterministic seeded sample refined by a few Lloyd rounds),
  *    every build vector assigned to its nearest centroid, queries probe
  *    only the `nProbe` nearest centroids. Candidate set shrinks by
  *    ~nProbe/nCentroids; recall is tested against the exact path in
  *    AnnSearchSpec.
  *
  * Centroid handling: a centroid table is SMALL by construction (nCentroids
  * rows — an index with more centroids than fits on the driver is
  * misconfigured), so Lloyd rounds collect it and every BUILD-side
  * assignment runs through the [[graft.functions.NearestCentroidId]]
  * codegen kernel (the matrix rides as a referenced object — O(1)
  * generated source at any index size): pure projections, no broadcast
  * exchange, no checkpoint, one Spark job per refinement round. Only the
  * |Q|-row PROBE side keeps a size split: literal struct-sort under
  * [[literalCentroidLimit]], broadcast-join window above it.
  */
object AnnSearch {

  /** cos(a,b) — identical formula to the DuckDB oracle:
    * dot / sqrt(norm2(a)*norm2(b)), all double. Norms are hoisted to
    * per-ROW projections before the join ([[withNorm]]) so each vector is
    * folded once, not once per pair — the values (and therefore the
    * oracle comparison) are bit-identical either way. */
  private def cosineCol =
    VectorExpressions.dotProduct(col("a_v"), col("b_v")) /
      sqrt(col("a_n") * col("b_n"))

  private def withNorm(df: org.apache.spark.sql.DataFrame,
      vecCol: String, normCol: String) =
    df.withColumn(normCol,
      VectorExpressions.dotProduct(col(vecCol), col(vecCol)))

  /** Exact top-k by cosine for each query row, via the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate on the NEGATED cosine
    * (min(−cos) ≡ max(cos); ties ascending by id — identical ordering to
    * `ORDER BY cos DESC, id`, and negation is exact in IEEE doubles so
    * the DuckDB oracle comparison is unaffected).
    * @param queries (`a_id`, `a_v`); @param build (`b_id`, `b_v`)
    * @return (`a_id`, `nbr_id`, `rnk`) — rnk 1..k by cosine desc, ties by
    *         nbr_id. */
  def bruteForceTopK(queries: DataFrame, build: DataFrame, k: Int): DataFrame =
    bruteForceTopKWhere(queries, build, k, col("a_id") =!= col("b_id"))

  /** [[bruteForceTopK]] with a caller-supplied candidate predicate in
    * place of the id-inequality — the contrastive-mining shape: with
    * queries/build carrying a label column and
    * `cond = col("a_lab") =!= col("b_lab")`, the top-k are each query's
    * HARD NEGATIVES (most-similar differently-labeled rows). The
    * predicate only ever prunes the candidate stream feeding the
    * bounded heap — ranking and tie rules are unchanged.
    * @param cond join predicate over the prefixed query (`a_*`) and
    *   build (`b_*`) columns; must exclude self-pairs if both sides
    *   share ids (a label-inequality does so for free). */
  def bruteForceTopKWhere(queries: DataFrame, build: DataFrame, k: Int,
      cond: org.apache.spark.sql.Column): DataFrame =
    // queries are the streamed side of the nested-loop candidate join —
    // repartition so the |Q|·|B| scan parallelizes even when the query
    // batch arrives as one small file/partition
    withNorm(queries.repartition(col("a_id")), "a_v", "a_n")
      .join(withNorm(build, "b_v", "b_n"), cond)
      .select(col("a_id"), col("b_id"), (-cosineCol).as("negcos"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("b_id"), col("negcos"), k)
        .as("topk"))
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))

  /** Above this many centroids, per-centroid literal expressions would
    * bloat generated code — switch to the broadcast-join formulation. */
  val literalCentroidLimit = 512

  /** `struct(d2(vec, c), c_id)` for every centroid, as literal expressions.
    * Lexicographic struct ordering = order by distance, ties by centroid
    * id — the same total order as `min_by(c_id, struct(d2, c_id))` and
    * `ORDER BY d2, c_id`. */
  private def centDistStructs(vec: Column,
      cents: Array[(Int, Array[Double])]): Seq[Column] =
    cents.toSeq.map { case (cid, cv) =>
      struct(
        VectorExpressions.squaredL2(vec, typedlit(cv.toSeq)).as("d2"),
        lit(cid).as("c_id"))
    }

  /** Nearest centroid id as a pure projection (no join), via the
    * [[graft.functions.NearestCentroidId]] codegen kernel — one O(1)-source
    * loop over the referenced matrix instead of a `least(struct…)` tree
    * whose generated code grows with nCentroids·dims (at 64×32 the literal
    * tree measured ~150 µs/row — it falls out of JIT; the kernel is ~1 µs).
    * Identical semantics: same d2 fold, ties to the smallest centroid id. */
  private def nearestCentroid(vec: Column,
      cents: Array[(Int, Array[Double])]): Column = {
    require(cents.nonEmpty, "no centroids — empty build side?")
    if (cents.length == 1) lit(cents.head._1)
    else VectorExpressions.nearestCentroidId(vec, cents)
  }

  /** Squared L2 with the pinned sequential fold every kernel and every
    * oracle shares (widen, subtract, square, accumulate in input order). */
  private def seqD2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val diff = a(i) - b(i); d += diff * diff; i += 1 }
    d
  }

  /** Deterministic farthest-first (Gonzalez) selection of `n` seeds from
    * an id-ordered candidate pool: start at the pool's smallest id, then
    * repeatedly take the candidate maximizing its min-d² to the chosen
    * set (ties → smallest id). All comparisons are on exact doubles from
    * the pinned [[seqD2]] fold, so any engine unrolling the same rounds
    * picks the same seeds. @return indices into `pool`, ascending. */
  private def farthestFirst(pool: Array[Array[Double]], n: Int): Seq[Int] = {
    if (pool.isEmpty) return Seq.empty
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val isChosen = new Array[Boolean](pool.length)
    isChosen(0) = true
    val minD2 = Array.fill(pool.length)(Double.PositiveInfinity)
    while (chosen.length < math.min(n, pool.length)) {
      val last = pool(chosen.last)
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < pool.length) {
        if (!isChosen(i)) {
          val d = seqD2(pool(i), last)
          if (d < minD2(i)) minD2(i) = d
          // strict > keeps the earliest (smallest-id) index on ties
          if (minD2(i) > bestD) { bestD = minD2(i); best = i }
        }
        i += 1
      }
      chosen += best
      isChosen(best) = true
    }
    chosen.sorted.toSeq
  }

  /** How many md5-ordered candidates feed [[farthestFirst]] per index
    * (and per PQ subspace): pool = `seedPoolFactor` × nCentroids. */
  val seedPoolFactor = 4

  /** Deterministically-seeded centroids refined by `iters` Lloyd rounds,
    * collected to the driver (nCentroids × dims doubles — always
    * driver-safe for a sane index). Each round is ONE job: kernel-argmin
    * assignment fused into a (c_id, pos) quantized-integer mean.
    *
    * The whole build is EXACT and engine-portable: a 4n-candidate pool
    * (the smallest md5("id:seed") strings — md5 exists in every engine,
    * unlike xxhash64) is refined by k-means++-style farthest-first
    * selection ([[farthestFirst]] — spread seeds, not a hash lottery),
    * and Lloyd means accumulate round(v·1e6) longs — order-free integer
    * sums — closing with two double divisions (s/cnt/1e6). Same input ⇒
    * bit-identical centroids on any partitioning AND in the DuckDB
    * oracle (the q120 k-means discipline); the ×1e6 quantization
    * (≤1e-6 absolute per coordinate) is noise for an ANN index.
    * Overflow bound: |v|·rows-per-cluster < 9.2e12 — coarsen upstream
    * beyond that.
    * @return (c_id, coords) sorted by c_id, 1-based dense ids. */
  private[operators] def centroidArrays(build: DataFrame, nCentroids: Int,
      iters: Int = 2, seed: Long = 42L): Array[(Int, Array[Double])] = {
    val pool: Array[Array[Double]] = build
      .orderBy(md5(concat(col("b_id").cast("string"), lit(":" + seed))))
      .limit(seedPoolFactor * nCentroids)
      .orderBy(col("b_id"))
      .select(col("b_v").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    // the first seed vector fixes the dimension; a ragged build vector
    // fails here or in the round's check instead of being truncated
    val dims = if (pool.nonEmpty) pool(0).length else 0
    val (pre, post) = ("centroidArrays: build vector length ",
      s" differs from the first seed vector's length $dims")
    pool.foreach(v => require(v.length == dims, s"$pre${v.length}$post"))
    var cents: Array[(Int, Array[Double])] =
      farthestFirst(pool, nCentroids).zipWithIndex
        .map { case (pi, i) => (i + 1, pool(pi)) }.toArray
    val checked = build.select(when(col("b_v").isNull ||
        size(col("b_v")) === dims, col("b_v"))
      .otherwise(raise_error(concat(lit(pre),
        size(col("b_v")).cast("string"), lit(post)))).as("b_v"))
    for (_ <- 0 until iters) {
      // the kernel's generated code is O(1) in nCentroids (matrix rides as
      // a referenced object), so no size split is needed here — every round
      // is one projection + one integer-sum job at any size. The mean is
      // `dims` column sums in ONE pass over |B| rows — the former
      // posexplode shape pushed |B|·dims rows through a (c_id, pos) hash
      // aggregate (32M rows/round at the 1M diagnostic: one hash probe
      // per ELEMENT instead of per vector). Values are bit-identical:
      // the same round(v·1e6) longs sum per cluster either way
      // (order-free integer sums), null vectors excluded like
      // posexplode-of-null emitted nothing.
      val assigned = checked
        .select(nearestCentroid(col("b_v"), cents).as("c_id"),
          col("b_v").cast("array<double>").as("__v"))
        .filter(col("__v").isNotNull)
      val aggs = (0 until dims).map(d =>
        sum(round(element_at(col("__v"), d + 1) * lit(1e6)).cast("long"))
          .as(s"s$d")) :+ count(lit(1)).as("cnt")
      val means = assigned.groupBy(col("c_id"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      cents = means.map { r =>
        val cnt = r.getLong(dims + 1).toDouble
        (r.getInt(0),
          Array.tabulate(dims)(d => r.getLong(d + 1).toDouble / cnt / 1e6))
      }.sortBy(_._1)
    }
    cents
  }

  private def centroidFrame(build: DataFrame,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    val spark = build.sparkSession
    import spark.implicits._
    cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("c_id", "c_v")
  }

  /** Centroid table as a DataFrame (public API; the IVF internals use the
    * collected arrays directly). @return (`c_id`: int, `c_v`: array<double>) */
  def centroids(build: DataFrame, nCentroids: Int, iters: Int = 2,
      seed: Long = 42L): DataFrame =
    centroidFrame(build, centroidArrays(build, nCentroids, iters, seed))

  /** IVF approximate top-k: probe the `nProbe` nearest centroids per query,
    * exact cosine + bounded-heap top-k inside the probed cells only. With
    * centroids inlined as literals, assignment and probing are pure
    * projections — the only shuffles are the candidate equi-join on `c_id`
    * and the final top-k aggregate. */
  def ivfTopK(queries: DataFrame, build: DataFrame, k: Int,
      nCentroids: Int, nProbe: Int): DataFrame =
    ivfTopKWith(queries, build, k, centroidArrays(build, nCentroids), nProbe)

  /** Tombstone retraction on a persisted IVF index — deletion's answer
    * for the ANN family (clusters/dup-groups/minhash-index have
    * [[graft.operators.IncrementalDbscan.removePoints]] /
    * [[Dedup.retractDocs]] / [[Dedup.retractFromIndex]]). The centroid
    * table is NOT retrained — the production tombstone rule: a
    * centroid set is a partition geometry, and serving correctness
    * never depended on it being the argmin of the CURRENT corpus.
    * Because assignment is a pure function of the fixed centroids,
    * every surviving vector keeps its cell, so surviving candidates'
    * rankings are unchanged except where a removed vector vacates a
    * top-k slot (the next candidate fills it) and removed vectors are
    * unreachable — q234 oracles exactly that against the full IVF
    * pipeline with the serve side filtered. Retrain (rebuild
    * [[centroids]]) on whatever cadence drift warrants, as in
    * production. One anti-join; no vectors re-read.
    * @param build the persisted vector table (`b_id`, `b_v`)
    * @param removeIds batch to retract, keyed by `idCol`. */
  def retractFromIvf(build: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    build.join(removeIds.select(col(idCol).as("b_id")).distinct(),
      Seq("b_id"), "left_anti")

  /** Insert into a persisted IVF index — [[retractFromIvf]]'s dual,
    * closing the standing-index CRUD square. Assignment is a pure
    * function of the FIXED centroid geometry, so ingesting a batch is
    * one union: every old vector keeps its cell bit for bit, new
    * vectors land in theirs at serve time, and the result equals a
    * from-scratch build-table over old ∪ new served against the same
    * centroids (q238 oracles exactly that). Centroids are NOT
    * retrained — the production rule shared with the tombstone path;
    * retrain on drift cadence. Ids must be fresh (a re-ingested id
    * would serve twice — [[retractFromIvf]] first for replace
    * semantics, the takedown-then-replace shape).
    * @param build the persisted vector table (`b_id`, `b_v`)
    * @param newVecs batch to ingest, keyed/shaped by `idCol`/`vecCol`. */
  def addToIvf(build: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    build.unionByName(
      newVecs.select(col(idCol).as("b_id"), col(vecCol).as("b_v")))

  /** IVF probe against a PREBUILT index — the production shape: run
    * Lloyd once (e.g. [[centroids]] persisted as parquet by a nightly
    * build job), then serve every query batch against the stored
    * centroid table without re-clustering. `centTable` must have the
    * [[centroids]] schema `(c_id: int, c_v: array<double>)`; it is
    * collected (an index that fits a sane nProbe always fits the
    * driver) and inlined exactly like the fresh-build path, so the two
    * paths produce identical candidate sets for identical centroids
    * (spec-enforced). */
  def ivfTopKPrebuilt(queries: DataFrame, build: DataFrame, k: Int,
      centTable: DataFrame, nProbe: Int): DataFrame =
    ivfTopKWith(queries, build, k, collectCentroids(centTable), nProbe)

  /** Collect + validate a persisted [[centroids]] table (an index that
    * fits a sane nProbe always fits the driver). */
  private[operators] def collectCentroids(
      centTable: DataFrame): Array[(Int, Array[Double])] = {
    val rows = centTable
      .select(col("c_id").cast("int"), col("c_v").cast("array<double>"))
      .collect()
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "centroid table has NULL c_id/c_v rows — corrupted index?")
    val cents = rows
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "empty centroid table")
    require(cents.map(_._1).distinct.length == cents.length,
      "duplicate c_id in centroid table")
    cents
  }

  /** The `nProbe` nearest coarse cells per query: (a_id, a_v, c_id).
    * Small centroid sets probe as a pure literal projection (sort the
    * literal struct(d2, c_id) array — no window, no join); larger sets
    * fall back to a broadcast centroid frame + per-query window over
    * nCentroids rows. Shared by plain IVF and composed IVF-PQ. */
  private def probeCells(queries: DataFrame, build: DataFrame,
      cents: Array[(Int, Array[Double])], nProbe: Int): DataFrame =
    if (cents.length <= literalCentroidLimit) {
      // |Q| rows only, so the literal tree's size is affordable here
      queries.select(col("a_id"), col("a_v"),
          explode(slice(array_sort(array(
            centDistStructs(col("a_v"), cents): _*)), 1, nProbe)).as("pc"))
        .select(col("a_id"), col("a_v"), col("pc.c_id").as("c_id"))
    } else {
      val cdf = centroidFrame(build, cents)
      val qd2 = VectorExpressions.squaredL2(
        col("a_v").cast("array<double>"), col("c_v"))
      queries.crossJoin(broadcast(cdf))
        .withColumn("rk", row_number().over(
          Window.partitionBy("a_id").orderBy(qd2, col("c_id"))))
        .filter(col("rk") <= nProbe)
        .select(col("a_id"), col("a_v"), col("c_id"))
    }

  private def ivfTopKWith(queries: DataFrame, build: DataFrame, k: Int,
      cents: Array[(Int, Array[Double])], nProbe: Int): DataFrame = {
    // build-side assignment is always the O(1)-source kernel projection —
    // the |B|-row pass must never depend on nCentroids for its code size
    val buildIdx = build.select(col("b_id"), col("b_v"),
      nearestCentroid(col("b_v"), cents).as("c_id"))
    val probes = probeCells(queries, build, cents, nProbe)

    // BROADCAST the probe side (guide §3.1): it is |Q|·nProbe rows — a
    // bounded serving batch by contract — while the build side is the
    // corpus. The compile-time plan was a SortMergeJoin that exchanged
    // AND sorted the full vector table by c_id (measured 1M-vector
    // profile: the serve's dominant stage); broadcasting the batch
    // leaves the corpus unshuffled, and the only exchange left is the
    // bounded per-query top-k aggregate (partial heaps map-side).
    // Callers with an unbounded probe batch should chunk it — the same
    // contract as the entry broadcast in graphTopK.
    broadcast(withNorm(probes, "a_v", "a_n"))
      .join(withNorm(buildIdx, "b_v", "b_n"), "c_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), (-cosineCol).as("negcos"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("b_id"), col("negcos"), k)
        .as("topk"))
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  // ------- Product quantization: the compressed-vector scale path -------
  //
  // At 100 TB an embedding store's scan cost is memory bandwidth: PQ
  // replaces each D-dim float vector with m small codes (one nearest-
  // centroid id per subspace), shrinking the scanned bytes by ~D·4/m and
  // turning each query×vector distance into m table lookups (ADC —
  // asymmetric distance computation; squared L2 decomposes exactly over
  // subspaces, which is why the family quantizes L2, not cosine).
  // Codebooks reuse the IVF Lloyd machinery per subspace.

  /** Per-subspace PQ codebook. @return (sub: int 0-based, c_id: int
    * 1-based within the subspace, c_v: array<double> of `dims/m`) —
    * parquet-persistable, like [[centroids]]. Requires `b_id`/`b_v`
    * input columns and `dims % m == 0`.
    *
    * All m subspaces train TOGETHER: seeds come from one windowed job
    * over the sub-tagged explode (distinct hash seed per subspace — one
    * shared seed would pick the same seed ROWS everywhere), and each
    * Lloyd round is ONE job whose assignment expression dispatches on
    * the subspace tag (coalesce of per-sub literal argmins) before a
    * (sub, c_id, pos) quantized-integer mean. A per-subspace loop would
    * cost m × the per-round job latency — measured 25 s vs 2 s at m=16
    * on the sf0.1 fixture — for byte-identical output shape. Seeding
    * and means follow [[centroidArrays]]'s exact-arithmetic discipline
    * (md5 ordering, round(v·1e6) integer sums), so the codebook is
    * partitioning-invariant and DuckDB-reproducible (q75's oracle
    * unrolls it as CTEs). */
  def pqCodebook(build: DataFrame, m: Int, nCentroids: Int,
      iters: Int = 2, seed: Long = 42L): DataFrame = {
    val spark = build.sparkSession
    import spark.implicits._
    val subLen = pqSubLen(build.select(size(col("b_v"))).head.getInt(0), m)
    val subTags = explode(array((0 until m).map(lit): _*)).as("sub")
    val subs = build
      .select(col("b_id"), col("b_v").cast("array<double>").as("v"), subTags)
      .select(col("b_id"), col("sub"),
        slice(col("v"), col("sub") * subLen + 1, lit(subLen)).as("sv"))
      .persist()
    // seeds: per subspace, the nCentroids smallest xxhash64(b_id, seed+s)
    // rows, id-ordered — the same selection centroidArrays makes, all
    // subspaces in one windowed job. The id-order rank is computed by a
    // second window rather than a driver-side sort so b_id keeps its
    // generic orderable type (a driver getLong would pin it to BIGINT).
    val wHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub"))
      .orderBy(md5(concat(col("b_id").cast("string"), lit(":"),
        (col("sub").cast("long") + seed).cast("string"))))
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(col("b_id"))
    val seedRows = subs
      .withColumn("__rn", row_number().over(wHash))
      .filter(col("__rn") <= nCentroids)
      .withColumn("__cid", row_number().over(wId))
      .select(col("sub"), col("__cid"), col("sv"))
      .collect()
    var cents: Array[Array[(Int, Array[Double])]] =
      seedRows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(1))
          .map(r => (r.getInt(1), r.getSeq[Double](2).toArray))
      }
    require(cents.length == m, s"expected $m subspaces, got ${cents.length}")
    for (_ <- 0 until iters) {
      // assignment is a small typed UDF, not an expression: m × nc
      // literal argmin trees overflow Janino (the failed compile is
      // retried per task before interpretation — measured 12 s vs 2 s
      // for the whole codebook at m=16); the UDF runs only over the
      // m·|B| training explode, never a serving path. The fold matches
      // SquaredL2 exactly: widen, subtract, square, accumulate in
      // input order — same doubles, same argmin, ties to lowest c_id.
      val cur = cents
      val assign = udf((sub: Int, sv: Seq[Double]) => {
        val cs = cur(sub)
        var bestId = cs(0)._1
        var bestD = Double.PositiveInfinity
        cs.foreach { case (cid, cv) =>
          var d = 0.0
          var i = 0
          while (i < cv.length) {
            val diff = sv(i) - cv(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; bestId = cid }
        }
        bestId
      })
      val means = subs
        .select(col("sub"), assign(col("sub"), col("sv")).as("c_id"),
          posexplode(col("sv")))
        .groupBy(col("sub"), col("c_id"), col("pos"))
        .agg(sum(round(col("col") * lit(1e6)).cast("long")).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      cents = means.groupBy(_.getInt(0)).toArray.sortBy(_._1)
        .map { case (_, rs) =>
          rs.groupBy(_.getInt(1)).toArray.sortBy(_._1).map { case (cid, ps) =>
            (cid, ps.sortBy(_.getInt(2)).map(r =>
              r.getLong(3).toDouble / r.getLong(4).toDouble / 1e6).toArray)
          }
        }
    }
    subs.unpersist()
    cents.zipWithIndex.flatMap { case (cs, s) =>
      cs.map { case (cid, cv) => (s, cid, cv.toSeq) }
    }.toSeq.toDF("sub", "c_id", "c_v")
  }

  private def pqSubLen(dims: Int, m: Int): Int = {
    require(m >= 1 && dims % m == 0, s"dims=$dims not divisible by m=$m")
    dims / m
  }

  /** Collected codebook: per subspace, centroids sorted by c_id and
    * re-indexed POSITIONALLY (1..len) — Lloyd can drop an empty cluster,
    * so stored c_ids may have gaps; codes always refer to positions in
    * this cid-sorted order (encode and ADC both derive from it, so the
    * contract holds by construction). */
  private def collectPqCodebook(codebook: DataFrame)
      : Array[Array[(Int, Array[Double])]] = {
    val rows = codebook
      .select(col("sub").cast("int"), col("c_id").cast("int"),
        col("c_v").cast("array<double>"))
      .collect()
    require(rows.nonEmpty, "empty PQ codebook")
    val bySub = rows.groupBy(_.getInt(0)).toArray.sortBy(_._1)
    require(bySub.map(_._1).toSeq == bySub.indices.toSeq,
      s"codebook subspaces not dense 0..m-1: ${bySub.map(_._1).toSeq}")
    bySub.map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).zipWithIndex
        .map { case (r, i) => (i + 1, r.getSeq[Double](2).toArray) }
    }
  }

  /** Encode vectors as m positional codes — a pure projection (literal
    * sub-centroids, no join, no shuffle). @return (`id`, `codes`). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, keepCols: Seq[String] = Nil): DataFrame = {
    val cb = collectPqCodebook(codebook)
    val subLen = cb.head.head._2.length
    val codes = array(cb.zipWithIndex.map { case (cents, s) =>
      nearestCentroid(
        slice(col(vecCol).cast("array<double>"), s * subLen + 1, subLen),
        cents)
    }.toIndexedSeq: _*)
    df.select(col(idCol).as("id") +: keepCols.map(col) :+
      codes.cast("array<int>").as("codes"): _*)
  }

  /** Tombstone retraction on a persisted PQ code table — the PQ member
    * of the standing-index CRUD family ([[retractFromIvf]] /
    * [[Dedup.retractFromIndex]]). A code row derives from its vector
    * and the FIXED codebook alone, so dropping the removed rows IS the
    * rebuild over the survivors (one anti-join, no vectors re-read);
    * the codebook is not retrained, exactly like the IVF centroid rule.
    * q241 oracles retract-then-serve via the full PQ SQL unroll with
    * the ADC candidate side filtered identically. */
  def retractFromPq(codes: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    codes.join(removeIds.select(col(idCol).as("id")).distinct(),
      Seq("id"), "left_anti")

  /** Insert into a persisted PQ code table — [[retractFromPq]]'s dual:
    * encode the batch against the FIXED codebook ([[pqEncode]] is a
    * pure projection of it) and append; the result equals encoding the
    * whole corpus from scratch with the same codebook, bit for bit
    * (spec-enforced; q242 oracles nightly-codebook + ingested-batch
    * serving end to end). Ids must be fresh — [[retractFromPq]] first
    * for replace semantics. */
  def addToPq(codes: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String, codebook: DataFrame): DataFrame =
    codes.unionByName(pqEncode(newVecs, idCol, vecCol, codebook))

  /** ADC approximate top-k over PQ codes: the query's distances to
    * every sub-centroid are materialized as an m × nCentroids TABLE
    * column in a projection BELOW the join — evaluated once per QUERY
    * row — so each of the |Q|·|B| code pairs costs only m `element_at`
    * lookups and adds. The table builds in a typed UDF rather than an
    * m·nc-literal expression tree: that tree overflows Janino's method
    * limit and the failed compile re-runs per task before interpreting
    * (measured 15 s vs sub-second on the sf0.1 fixture); the UDF runs
    * on |Q| rows only — the |Q|·|B| scan stays native. Table entries
    * are integer-quantized (floor(d²·1e9 + 0.5) longs — see the inline
    * note below), so the ADC sum is shuffle-order-free and
    * engine-portable; rankings may differ from a raw double fold
    * within the 1e-9 quantum, which is inside ADC's own approximation
    * error. The scan
    * never touches a full vector. Exact-rerank of the ADC shortlist is
    * the usual production follow-up ([[bruteForceTopK]] survivors).
    * @param queries (`a_id`, `a_v`); @param codes [[pqEncode]] output.
    * @return (a_id, nbr_id, rnk) by ascending approximate d², ties by
    *   id (deterministic). */
  /** Quantized ADC distance-table UDF shared by the plain-PQ and
    * composed IVF-PQ serve paths: per subspace, floor(d²·1e9 + 0.5)
    * BIGINT distances to every sub-centroid (integer-exact sums,
    * engine-portable; overflow bound Σ_m d² < 9.2e9 — see the
    * quantization note at the [[pqTopK]] call site). ONE body so the
    * two paths cannot drift. */
  private def adcTableUdf(cbv: Array[Array[Array[Double]]], subLen: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((rv: Seq[Double]) =>
      cbv.zipWithIndex.map { case (cs, sIdx) =>
        cs.map { cv =>
          var d = 0.0
          var i = 0
          while (i < cv.length) {
            val diff = rv(sIdx * subLen + i) - cv(i); d += diff * diff
            i += 1
          }
          math.floor(d * 1e9 + 0.5).toLong
        }
      })

  /** Exact-L2 re-rank of an (a_id, b_id) shortlist against full
    * vectors — the shared closing pass of [[pqTopKRerank]] and
    * [[ivfPqTopK]]: only |Q|·shortlist vectors are fetched. */
  private def exactRerankL2(cand: DataFrame, queries: DataFrame,
      build: DataFrame, k: Int): DataFrame = {
    val d2 = VectorExpressions.squaredL2(
      col("a_v").cast("array<double>"), col("b_v").cast("array<double>"))
    cand.join(build, "b_id")
      .join(queries, "a_id")
      .select(col("a_id"), col("b_id"), d2.as("d2"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("b_id"), col("d2"), k)
        .as("topk"))
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  def pqTopK(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
      k: Int): DataFrame = {
    val cb = collectPqCodebook(codebook)
    val subLen = cb.head.head._2.length
    val cbv: Array[Array[Array[Double]]] = cb.map(_.map(_._2))
    // table entries quantize to floor(d²·1e9 + 0.5) longs: the ADC sum
    // over m terms becomes an exact INTEGER sum — shuffle-order-free and
    // engine-portable (the q75 oracle reproduces it digit for digit),
    // while ranking is unchanged beyond the 1e-9 quantum (ADC is a
    // shortlist heuristic; ties already broke by id). Overflow bound:
    // Σ_m d²_m < 9.2e9, i.e. vector coordinates up to ~1e4 at 64 dims.
    val dtab = adcTableUdf(cbv, subLen)
    val approxD2 = cb.indices.map { s =>
      element_at(element_at(col("__dtab"), s + 1),
        element_at(col("codes"), s + 1))
    }.reduce(_ + _)
    val q2 = queries
      .select(col("a_id"), dtab(col("a_v").cast("array<double>")).as("__dtab"))
    // stream the |B| CODES side (repartitioned — a single-file build
    // input would otherwise scan single-threaded; and left alone, AQE
    // coalesces the tiny query side to ONE task and streams THAT:
    // measured 5.6 s vs 0.4 s) and broadcast the |Q| distance tables —
    // the only shape that scales with |B|
    codes.repartition(col("id"))
      .join(broadcast(q2))
      .filter(col("a_id") =!= col("id"))
      // the quantized ADC sum can reach ~9.2e18 at the documented
      // coordinate bound — beyond double's 2^53 exact-integer range —
      // so the heap ranks the exact LONG (matching the oracle's BIGINT
      // ordering at any coordinate scale)
      .select(col("a_id"), col("id"), approxD2.as("ad2"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMinLong(col("id"), col("ad2"), k)
        .as("topk"))
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** The full production PQ pipeline: ADC shortlist over codes, then
    * EXACT L2 re-rank of the shortlist against the full vectors. Only
    * `|Q| × shortlist` full vectors are ever fetched — the |B|-sized
    * scan stays on codes — and the re-rank repairs ADC's quantization
    * coarseness (recall is the shortlist's hit rate, spec-measured).
    * @param build (`b_id`, `b_v`) full-resolution vectors. */
  def pqTopKRerank(queries: DataFrame, build: DataFrame, codes: DataFrame,
      codebook: DataFrame, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    exactRerankL2(
      pqTopK(queries, codes, codebook, shortlist)
        .select(col("a_id"), col("nbr_id").as("b_id")),
      queries, build, k)
  }

  // ------- Composed IVF-PQ: the production serving index shape -------
  //
  // FAISS's IVFPQ composition (Jégou, Douze, Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search" §IV): coarse IVF
  // centroids partition the corpus into cells; each vector stores only
  // its cell id plus the PQ codes of its RESIDUAL (v − cell centroid).
  // Residual quantization concentrates the codebook's resolution near
  // cell centers (residual norms ≪ raw norms), so the same code budget
  // quantizes finer than PQ over raw vectors; serving probes nProbe
  // cells and runs ADC inside them only — per-query candidate count
  // scales as |B|·nProbe/nCells, never |B|. The standing index is the
  // pair (centroid table, codebook) + one code row per vector: ~4+m
  // bytes/vector instead of 4·dims.

  /** cid → centroid as a literal MAP expression (keyed lookup — robust
    * to Lloyd-dropped cells leaving id gaps). */
  private def centLitMap(cents: Array[(Int, Array[Double])]): Column =
    map_from_arrays(
      array(cents.map(c => lit(c._1)).toIndexedSeq: _*),
      array(cents.map(c => array(c._2.map(lit).toIndexedSeq: _*))
        .toIndexedSeq: _*))

  /** (id, c_id, rv): nearest coarse cell + residual v − cent_c, as a
    * pure projection (literal centroids — no join, no shuffle on the
    * |B|-row pass). */
  private def residuals(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])]): DataFrame =
    df.select(col(idCol).as("id"),
        nearestCentroid(col(vecCol), cents).as("c_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .select(col("id"), col("c_id"),
        zip_with(col("__v"), element_at(centLitMap(cents), col("c_id")),
          (a, b) => a - b).as("rv"))

  /** Build the composed index: train coarse centroids, assign + form
    * residuals, train the PQ codebook ON THE RESIDUALS (the composition
    * point — seeds/Lloyd follow [[pqCodebook]]'s exact-arithmetic
    * discipline, so the whole index is partitioning-invariant and
    * DuckDB-reproducible), then encode. All three returns are
    * parquet-persistable — the nightly-build artifacts a serving fleet
    * loads.
    * @param build (`b_id`, `b_v`)
    * @return (centroid table (c_id, c_v), codebook (sub, c_id, c_v),
    *   codes (id, c_id, codes)) */
  def ivfPqIndex(build: DataFrame, nCentroids: Int, m: Int, nCodes: Int,
      iters: Int = 2, seed: Long = 42L)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = centroidArrays(build, nCentroids, iters, seed)
    val resid = residuals(build, "b_id", "b_v", cents)
    val cb = pqCodebook(
      resid.select(col("id").as("b_id"), col("rv").as("b_v")),
      m, nCodes, iters, seed)
    val codes = pqEncode(resid, "id", "rv", cb, keepCols = Seq("c_id"))
    (centroidFrame(build, cents), cb, codes)
  }

  /** Serve the composed index: probe `nProbe` coarse cells per query,
    * ADC over the PQ codes INSIDE the probed cells (each probe's
    * distance table is built from the query's residual in THAT cell —
    * the per-cell tables are what makes residual coding exact at serve
    * time), shortlist by approximate d², then exact-L2 re-rank of the
    * shortlist against full vectors. The |B|-sized scan touches only
    * code rows; full vectors are fetched for |Q|·shortlist rows.
    * Plan shape: codes equi-join the broadcast (query × probed-cell)
    * table on `c_id`; ADC sums are exact integer sums of the quantized
    * table entries; both rankings are bounded heaps.
    * @param queries (`a_id`, `a_v`); @param build (`b_id`, `b_v`) full
    *   vectors (re-rank side); @param codes/@param centTable/
    *   @param codebook the [[ivfPqIndex]] artifacts. */
  def ivfPqTopK(queries: DataFrame, build: DataFrame, codes: DataFrame,
      centTable: DataFrame, codebook: DataFrame, k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cents = collectCentroids(centTable)
    val cb = collectPqCodebook(codebook)
    val subLen = cb.head.head._2.length
    val cbv: Array[Array[Array[Double]]] = cb.map(_.map(_._2))
    // per-(query, probed cell) ADC table over the RESIDUAL in that cell
    // — quantized to floor(d²·1e9 + 0.5) longs exactly like pqTopK, so
    // the m-term sums are integer-exact and engine-portable
    val dtab = adcTableUdf(cbv, subLen)
    val probes = probeCells(queries, build, cents, nProbe)
      .select(col("a_id"), col("c_id"),
        zip_with(col("a_v").cast("array<double>"),
          element_at(centLitMap(cents), col("c_id")),
          (a, b) => a - b).as("qrv"))
      .select(col("a_id"), col("c_id"), dtab(col("qrv")).as("__dtab"))
    val approxD2 = cb.indices.map { s =>
      element_at(element_at(col("__dtab"), s + 1),
        element_at(col("codes"), s + 1))
    }.reduce(_ + _)
    // stream the |B| code rows, broadcast the |Q|·nProbe probe tables —
    // the only shape that scales with |B| (the pqTopK precedent)
    val sl = codes.repartition(col("id"))
      .join(broadcast(probes), "c_id")
      .filter(col("a_id") =!= col("id"))
      // exact LONG heap score — same rationale as [[pqTopK]]: the
      // quantized ADC sum can exceed double's 2^53 exact range
      .select(col("a_id"), col("id"), approxD2.as("ad2"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMinLong(col("id"), col("ad2"),
        shortlist).as("topk"))
      .select(col("a_id"), explode(col("topk")).as("p"))
      .select(col("a_id"), col("p.id").as("b_id"))
    exactRerankL2(sl, queries, build, k)
  }

  /** Tombstone retraction on the composed index — a code row derives
    * from its vector and the FIXED (centroids, codebook) pair alone, so
    * dropping removed rows IS the rebuild over survivors (the
    * [[retractFromPq]]/[[retractFromIvf]] rule; neither artifact
    * retrains). */
  def retractFromIvfPq(codes: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    retractFromPq(codes, removeIds, idCol)

  /** Insert into the composed index: assign + residual-encode the batch
    * against the FIXED artifacts and append — bit-equal to re-encoding
    * the whole corpus from scratch with the same artifacts
    * (spec-enforced). Ids must be fresh; [[retractFromIvfPq]] first for
    * replace semantics. */
  def addToIvfPq(codes: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String, centTable: DataFrame,
      codebook: DataFrame): DataFrame =
    codes.unionByName(pqEncode(
      residuals(newVecs, idCol, vecCol, collectCentroids(centTable)),
      "id", "rv", codebook, keepCols = Seq("c_id")))

  /** Johnson–Lindenstrauss sign projection: reduce every vector to
    * `planes.length` components via ±1 hyperplanes scaled by 1/√k —
    * the Achlioptas (2003) database-friendly JL variant. Distances are
    * preserved in expectation (ε-distortion bounds from the JL lemma),
    * so downstream ANN / clustering / dedup run on k dims instead of d.
    *
    * Exactness: components quantize to round(v·1e6) longs, the ±1 dot
    * products are exact integer sums (order-free), and the single
    * closing division by √k·1e6 is one double op — bit-reproducible in
    * any engine from the same printed plane literals. The quotient is
    * emitted UNROUNDED: it is a deterministic function of exact
    * integers, and decimal rounding would reintroduce engine-dependent
    * half-case behavior on quotients that land exactly between two
    * rounded values (S ≡ 2 mod 4 under k = 16 puts the true value at
    * .5 µ-units — observed on the fixture).
    *
    * Scale shape: one narrow position explode, a broadcast equi-join
    * with the k×d plane table, one (id, comp) hash aggregate — vectors
    * shuffle once as (id, pos) terms; output is k rows per vector
    * (exploded, scalar columns — parquet/oracle friendly).
    *
    * @param planes k sign rows of length d (±1.0), e.g.
    *   `srpPlanes(1, k, d)(0)`; d is validated against the data's
    *   actual dimensionality (a one-row probe) — a mismatched plane
    *   table would otherwise silently project onto a prefix via the
    *   pos equi-join
    * @return (`idCol`, comp 0..k-1, proj — deliberately UNROUNDED,
    *   see above). */
  def jlProject(emb: DataFrame, idCol: String, vecCol: String,
      planes: IndexedSeq[Array[Double]]): DataFrame = {
    val k = planes.length
    require(k >= 1, "need at least one plane")
    require(planes.forall(_.forall(s => s == 1.0 || s == -1.0)),
      "JL sign planes must be +1/-1")
    requirePlaneDims(emb, vecCol, planes.map(_.length))
    val spark = emb.sparkSession
    import spark.implicits._
    val pl = planes.zipWithIndex.flatMap { case (p, c) =>
      p.zipWithIndex.map { case (s, i) => (c, i, s.toLong) }
    }.toDF("comp", "pos", "sign")
    val denom = math.sqrt(k.toDouble) * 1e6
    emb.select(col(idCol), posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("pos", "v")))
      .select(col(idCol), col("pos"),
        round(col("v") * 1e6).cast("long").as("vq"))
      .join(broadcast(pl), "pos")
      .groupBy(col(idCol), col("comp"))
      .agg((sum(col("sign") * col("vq")).cast("double") / lit(denom))
        .as("proj"))
  }

  /** Guard against planes built for a different embedding width: the
    * dot/join kernels fold over min(len) or equi-join on position, so a
    * mismatch degrades results SILENTLY (prefix projection, weaker
    * buckets) instead of failing. One null-safe probe row
    * ([[graft.functions.VectorOps.probeDim]]); empty/streaming input
    * passes — there is nothing to probe, and a streaming plan cannot
    * collect. */
  private def requirePlaneDims(df: DataFrame, vecCol: String,
      planeLens: Seq[Int]): Unit = {
    require(planeLens.nonEmpty && planeLens.forall(_ == planeLens.head),
      s"ragged plane lengths: ${planeLens.distinct.mkString(",")}")
    graft.functions.VectorOps.probeDim(df, vecCol).foreach { d =>
      require(d == planeLens.head,
        s"planes built for dims=${planeLens.head} but $vecCol has " +
          s"$d components")
    }
  }

  /** Deterministic Rademacher (±1) hyperplanes for sign-random-projection
    * LSH (Charikar, STOC'02): `nTables × nBits` planes of `dims`
    * components each, drawn from java.util.Random's spec-defined LCG in
    * a FIXED iteration order (table → bit → dim). The same seed always
    * yields the same planes on any JVM, and ±1.0 literals print exactly
    * — so a SQL oracle embedding the printed planes computes the
    * identical signatures. */
  def srpPlanes(nTables: Int, nBits: Int, dims: Int,
      seed: Long = 42L): IndexedSeq[IndexedSeq[Array[Double]]] = {
    require(nTables >= 1 && nBits >= 1 && nBits <= 62 && dims >= 1,
      s"bad SRP shape: tables=$nTables bits=$nBits dims=$dims")
    val rnd = new java.util.Random(seed)
    IndexedSeq.fill(nTables)(IndexedSeq.fill(nBits)(
      Array.fill(dims)(if (rnd.nextBoolean()) 1.0 else -1.0)))
  }

  /** One table's bucket id: bit b set iff `dot(vec, plane_b) ≥ 0`. The
    * dot is the codegen'd left-to-right double fold ([[VectorExpressions
    * .dotProduct]] against a literal plane) — bit-identical to a SQL
    * `list_sum(list_transform(list_zip(...)))` over the same printed
    * literals, so the ≥ 0 sign decision (and hence every bucket) agrees
    * across engines exactly. */
  private def srpBucket(vec: Column,
      planes: IndexedSeq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      when(VectorExpressions.dotProduct(vec, typedlit(p.toSeq)) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed cosine top-k — the BUCKETED scale path between brute
    * force (exact, O(|Q|·|B|)) and IVF (centroid training): `nTables`
    * independent sign-random-projection signatures bucket directionally
    * similar vectors; candidates are the bucket-mates in ANY table;
    * exact cosine re-ranks. No training pass, no collected state — the
    * index is a pure per-row projection, so it streams (the property
    * IVF lacks) and build-side updates need no re-clustering.
    *
    * Scale shape: signatures are row-local (narrow, codegen'd; the
    * plan's only data-dependent cost). The candidate step is an
    * EQUI-join on (table, bucket) — shuffle ∝ Σ_buckets |Q_b|·|B_b|,
    * tuned by nBits (more bits → smaller buckets → fewer candidates,
    * lower recall) and nTables (recall multiplier at proportional
    * cost). The |Q|·|B| cross scan never exists. Pair dedup across
    * tables and the per-query top-k are two bounded hash aggregates
    * (TopKByScore heap — no per-query sort).
    *
    * Determinism: buckets are exact (see [[srpBucket]]); cosine is the
    * hoisted-norm exact formula ([[bruteForceTopK]]); ties break by
    * neighbor id. Result = brute-force ranking RESTRICTED to bucket
    * mates — recall < 1 by construction (spec-measured), precision
    * exact.
    *
    * @param queries (`a_id`, `a_v`); @param build (`b_id`, `b_v`)
    * @param planes from [[srpPlanes]] — shared by both sides
    * @return (`a_id`, `nbr_id`, `rnk`) — rnk 1..k by cosine desc, ties
    *   by nbr_id; queries with no bucket-mates yield no rows. */
  def lshTopK(queries: DataFrame, build: DataFrame, k: Int,
      planes: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // BOTH sides: a query-side width mismatch would bucket queries on a
    // prefix just as silently as a build-side one
    requirePlaneDims(build, "b_v", planes.flatMap(_.map(_.length)))
    requirePlaneDims(queries, "a_v", planes.flatMap(_.map(_.length)))
    val nTables = planes.length
    def withSig(df: DataFrame, vecCol: String) = df.select(col("*"),
      posexplode(array((0 until nTables).map(t =>
        srpBucket(col(vecCol), planes(t))): _*)).as(Seq("tbl", "bkt")))
    val qs = withSig(withNorm(queries, "a_v", "a_n"), "a_v")
    val bs = withSig(withNorm(build, "b_v", "b_n"), "b_v")
    qs.join(bs, Seq("tbl", "bkt"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), (-cosineCol).as("negcos"))
      // a pair colliding in several tables re-derives the identical
      // double — min() is pure dedup, not a numeric choice
      .groupBy("a_id", "b_id").agg(min("negcos").as("negcos"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("b_id"), col("negcos"), k)
        .as("topk"))
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Distinct LSH bucket-mate pairs SCORED with their exact cosine —
    * the candidate generator behind [[lshTopK]], exposed for consumers
    * that run their own thresholding/aggregation over the candidate
    * stream (e.g. [[Curation.embeddingContamination]]'s τ filter).
    * Same equi-join shape: shuffle ∝ Σ_buckets |Q_b|·|B_b|, the
    * |Q|·|B| cross scan never exists. The cosine is computed BEFORE
    * the cross-table dedup, so only 3 scalars — never two dense
    * vectors — cross the dedup exchange; a pair colliding in several
    * tables re-derives the identical double, so the dedup is pure.
    * Self-pairs (a_id == b_id) are NOT filtered — whether identical
    * ids are meaningful is the caller's semantic.
    * @return (a_id, b_id, cos) — cos is the hoisted-norm exact
    *   formula shared with [[bruteForceTopK]]. */
  def lshCandidatePairs(queries: DataFrame, build: DataFrame,
      planes: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    requirePlaneDims(build, "b_v", planes.flatMap(_.map(_.length)))
    requirePlaneDims(queries, "a_v", planes.flatMap(_.map(_.length)))
    val nTables = planes.length
    def withSig(df: DataFrame, vecCol: String) = df.select(col("*"),
      posexplode(array((0 until nTables).map(t =>
        srpBucket(col(vecCol), planes(t))): _*)).as(Seq("tbl", "bkt")))
    withSig(withNorm(queries, "a_v", "a_n"), "a_v")
      .join(withSig(withNorm(build, "b_v", "b_n"), "b_v"),
        Seq("tbl", "bkt"))
      .select(col("a_id"), col("b_id"), cosineCol.as("cos"))
      .dropDuplicates("a_id", "b_id")
  }

  /** One table's query-side probe set: the base bucket plus single-bit
    * flips of the (nProbes − 1) smallest-|margin| bits — deterministic
    * multi-probe (Lv et al., VLDB'07, restricted to 1-bit perturbations
    * in margin order, ties by bit index). A small |dot| means the query
    * sits close to that plane, so the flipped bucket is the likeliest
    * home of missed neighbors. Pure expressions over the printed
    * planes (margins are the same codegen'd dot fold the sign bits
    * use), so a SQL oracle reproduces every probe bucket exactly. */
  private def srpProbes(vec: Column, planes: IndexedSeq[Array[Double]],
      nProbes: Int): Column = {
    val dots = planes.map(p =>
      VectorExpressions.dotProduct(vec, typedlit(p.toSeq)))
    val base = dots.zipWithIndex.map { case (d, b) =>
      when(d >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    if (nProbes == 1) array(base)
    else {
      val pow2 = typedlit(planes.indices.map(b => 1L << b))
      val sorted = array_sort(array(dots.zipWithIndex.map { case (d, b) =>
        struct(abs(d).as("m"), lit(b).as("b"))
      }: _*))
      concat(array(base),
        transform(slice(sorted, 1, nProbes - 1), s =>
          base.bitwiseXOR(element_at(pow2, s.getField("b") + 1))))
    }
  }

  /** Multi-probe [[lshTopK]]: same tables, same build-side index (ONE
    * bucket per vector per table — the standing index is unchanged),
    * but each query probes `nProbes` buckets per table (its own bucket
    * + the nearest single-bit flips). The candidate set strictly
    * contains the single-probe set, so recall can only improve — at
    * the cost of ~nProbes× the candidate join volume — and the
    * table COUNT needed for a target recall drops (the paper's point:
    * probes are cheaper than tables, because tables multiply the
    * stored index and the build-side shuffle while probes only widen
    * the query side, which is the small side).
    *
    * Determinism: probe buckets derive from the same printed planes
    * as the signatures; cosine re-rank and tie rules are [[lshTopK]]'s. */
  def lshTopKMultiProbe(queries: DataFrame, build: DataFrame, k: Int,
      planes: IndexedSeq[IndexedSeq[Array[Double]]],
      nProbes: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nBits = planes.head.length
    require(nProbes >= 1 && nProbes <= nBits + 1,
      s"nProbes must be in [1, ${nBits + 1}], got $nProbes")
    requirePlaneDims(build, "b_v", planes.flatMap(_.map(_.length)))
    requirePlaneDims(queries, "a_v", planes.flatMap(_.map(_.length)))
    val nTables = planes.length
    val bs = withNorm(build, "b_v", "b_n").select(col("*"),
      posexplode(array((0 until nTables).map(t =>
        srpBucket(col("b_v"), planes(t))): _*)).as(Seq("tbl", "bkt")))
    val qs = withNorm(queries, "a_v", "a_n")
      .select(col("*"), posexplode(array((0 until nTables).map(t =>
        srpProbes(col("a_v"), planes(t), nProbes)): _*))
        .as(Seq("tbl", "probes")))
      .withColumn("bkt", explode(col("probes")))
      .drop("probes")
    qs.join(bs, Seq("tbl", "bkt"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), (-cosineCol).as("negcos"))
      // a pair colliding under several probes/tables re-derives the
      // identical double — min() is pure dedup
      .groupBy("a_id", "b_id").agg(min("negcos").as("negcos"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("b_id"), col("negcos"), k)
        .as("topk"))
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** k-NN GRAPH construction via NN-Descent (Dong, Moses, Li —
    * WWW'11) — the graph-based ANN family's member that is actually
    * distributable: HNSW's insert loop is inherently sequential (every
    * insert greedy-searches the graph built so far), but NN-Descent is
    * "everyone refines simultaneously": start from an arbitrary
    * k-neighbor guess and repeat *a neighbor of my neighbor is
    * probably my neighbor* — each round joins the graph with itself to
    * propose neighbors-of-neighbors (in BOTH directions; reverse edges
    * are the paper's key to fast convergence) and keeps each vertex's
    * exact-cosine top-k. The output k-NN graph is the index graph ANN
    * serving (and graph-clustering / SemDeDup-style dedup) builds on.
    *
    * Deterministic everywhere, hence oracle-able: the initial guesses
    * are hash-SCATTERED (v's j-th guess is the id at position
    * md5(v:j:seed) mod n in id order — deterministic, but as diverse
    * as the random init the paper's convergence rate depends on; a
    * ring/successor init measured 5× slower convergence because ring
    * 2-hops stay on the ring), candidate scoring is the exact cosine
    * kernel, ranks tie by neighbor id.
    *
    * Scale shape per round: ONE Spark job over cached vertex blocks
    * ([[GraphAnnLocal.knnGraphRounds]]) whose exchanges carry packed
    * id arrays, each vector once per block holding one of its
    * ≈ (2k)² candidates (NEVER n²) and partial top-k heaps; iters + 2
    * jobs in all. Monotone: the current graph is always in the
    * candidate set, so neighborhood quality never regresses
    * (spec-measured convergence). Ids must be unique LongType and
    * vectors `array<float>`.
    *
    * @param build (`b_id`, `b_v`); @param iters refinement rounds
    * @return (a_id, nbr_id, rnk) — each id's k nearest found, rnk by
    *   cosine desc, ties by id. */
  def knnGraph(build: DataFrame, k: Int, iters: Int,
      seed: Long = 42L, buildK: Int = 0,
      localThreshold: Long = GraphAnnLocal.defaultThreshold): DataFrame = {
    require(k >= 1 && iters >= 0, s"bad knnGraph shape: k=$k iters=$iters")
    require(GraphAnnLocal.idVecShape(build, "b_id", "b_v"),
      s"knnGraph needs a LongType b_id and an array<float> b_v, got " +
        build.schema.simpleString)
    // the graph refines at kk >= k and only the final emit cuts to k —
    // the standard build-K > query-k practice: a wider standing
    // neighborhood feeds each round quadratically more candidates, and
    // recall@k of the emitted top-k rises far faster than the extra
    // O(buildK^2) candidate volume costs (paper's K-sensitivity result)
    val kk = math.max(k, buildK)
    // Fused single-task path (the Dbscan.runLocal discipline): below
    // the size guard the whole build — init, rounds, final emit — runs
    // in ONE thread-parallel task with bit-identical output
    // (AnnSearchLocalSpec pins fused == distributed; the cap also
    // bounds NN-Descent's n·(2kk)² candidate work). The probe stops
    // scanning at the cap instead of counting a 100 TB table.
    if (localThreshold > 0) {
      val cap = math.min(localThreshold, GraphAnnLocal.maxBuildN(kk))
      val n = Dispatch.counts("knn-graph", build -> cap).head
      if (n <= cap && n > kk)
        return GraphAnnLocal.knnGraphFused(build, k, iters, seed, kk)
    }
    GraphAnnLocal.knnGraphRounds(build, k, iters, seed, kk)
  }

  /** k-NN GRAPH construction, IVF-CELL-SHARDED — the scale path beside
    * [[knnGraph]]. NN-Descent's per-round candidate volume is n·(2K)²;
    * at 1M vectors and buildK=20 the former DataFrame rounds pushed
    * ~1.6B rows/round through a vector-carrying exchange that measured
    * ~480 GB of shuffle spill — more than a single host's disk. The
    * sharded build never materializes a candidate exchange at all:
    * vectors are assigned to their `nAssign` nearest IVF cells (a
    * pure [[graft.functions
    * .TopNCentroidIds]] projection over a driver-trained centroid
    * matrix — [[centroidArrays]]'s exact, engine-portable Lloyd), each
    * cell computes its members' EXACT top-k by cosine inside one
    * c_id equi-join feeding a bounded-heap partial aggregate (the
    * all-pairs rows live only inside the join stage — the per-(cell,
    * vertex) heap groups on (c_id, a_id), which the join's c_id hash
    * partitioning already clusters, so NO added exchange), and the
    * per-cell lists merge by one n·nAssign·k-row bounded-heap pass.
    * Top-k of a union equals top-k over per-subset top-ks under the
    * shared tie rule (cos desc, id asc), so the merge is exact over
    * the covered candidate set.
    *
    * Approximation lives ONLY in cell coverage: a true neighbor is
    * found iff it shares ≥ 1 of the two vectors' nAssign cells —
    * near-certain for actual nearest neighbors (they sit in the same
    * or an adjacent cell, which top-2 assignment covers). Measured on
    * the 64-blob 1M-vector corpus: recall@10 ≥ 0.9 where NN-Descent
    * at the host-feasible buildK=10 reached 0.10 (BENCH_full
    * `graph_ann`). Deterministic end-to-end (exact centroid fold, id
    * ties), so DuckDB-oracle-able — q269 unrolls it.
    *
    * Scale shape: the sharded build's ONLY exchanges are the
    * nAssign-way cell repartition of the vector table (n·nAssign rows)
    * and the n·nAssign·k edge merge — both linear in n. Each refine
    * round adds [[GraphAnnLocal.knnGraphRounds]]' block exchanges,
    * which send a vector to every block holding one of its ≈ (2k)²
    * candidates and so also grow with the block count
    * (`spark.sql.shuffle.partitions`). Per-cell all-pairs
    * cost is Σ m_c² ≈ n²·nAssign²/nCells exact kernel evaluations;
    * size nCells ~ n/2000 to bound cells at a few thousand members.
    * Cells are the shuffle keys, so nCells must comfortably exceed
    * the cluster's core count for parallelism.
    *
    * Cell-coverage loss is real at scale — 1M × 1024 cells measured
    * graph recall@10 = 0.66 — and `refineIters` buys it back: each
    * refinement round is ONE NN-Descent round seeded by the sharded
    * graph (a neighbor missed across a cell boundary is almost always
    * a neighbor-of-a-neighbor of a 0.66-quality graph), run on
    * [[knnGraph]]'s vertex blocks ([[GraphAnnLocal.knnGraphRounds]]
    * with the sharded graph as its start lists and buildK = k): one
    * Spark job per round. Ids must be unique LongType and vectors
    * `array<float>`.
    *
    * @param build (`b_id`, `b_v`); @param nCells coarse cells (≥ 2);
    * @param nAssign cells per vector (2 = boundary coverage);
    * @param lloydIters centroid refinement rounds;
    * @param refineIters NN-Descent rounds over the sharded result; ≥ 1
    *   needs more than k vectors and unique ids
    * @return (a_id, nbr_id, rnk) — rnk by cosine desc, ties by id. */
  def knnGraphIvf(build: DataFrame, k: Int, nCells: Int,
      nAssign: Int = 2, lloydIters: Int = 2, refineIters: Int = 0,
      seed: Long = 42L): DataFrame = {
    require(k >= 1 && nCells >= 2 && nAssign >= 1 && refineIters >= 0,
      s"bad knnGraphIvf shape: k=$k nCells=$nCells nAssign=$nAssign " +
        s"refine=$refineIters")
    require(GraphAnnLocal.idVecShape(build, "b_id", "b_v"),
      s"knnGraphIvf needs a LongType b_id and an array<float> b_v, got " +
        build.schema.simpleString)
    // the refine's rounds give every vertex k others to list
    if (refineIters >= 1) {
      val n = Dispatch.counts("knn-graph-ivf", build -> k.toLong).head
      require(n > k, s"knnGraphIvf with refineIters=$refineIters needs " +
        s"more than k=$k vectors, got $n")
    }
    val cents = centroidArrays(build, nCells, lloydIters, seed)
    val vecs = withNorm(build, "b_v", "b_n").persist()
    val assigned = vecs
      .select(col("b_id"), col("b_v"), col("b_n"),
        explode(VectorExpressions.topNCentroidIds(col("b_v"), cents,
          nAssign)).as("c_id"))
    val perCell = assigned
      .select(col("c_id"), col("b_id").as("a_id"), col("b_v").as("a_v"),
        col("b_n").as("a_n"))
      .join(assigned.select(col("c_id"), col("b_id").as("nbr"),
        col("b_v"), col("b_n")), "c_id")
      .filter(col("a_id") =!= col("nbr"))
      .select(col("c_id"), col("a_id"), col("nbr"), (-cosineCol).as("negcos"))
      .groupBy("c_id", "a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("nbr"), col("negcos"), k)
        .as("topk"))
    // a pair sharing BOTH cells emits two bit-identical (nbr, negcos)
    // copies (the same exact fold ran twice) — dedup before the merge
    // heap, which has no id-dedup of its own
    val merged = perCell
      .select(col("a_id"), explode(col("topk")).as("p"))
      .select(col("a_id"), col("p.id").as("nbr"), col("p.score").as("negcos"))
      .distinct()
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("nbr"), col("negcos"), k)
        .as("topk"))
    val out =
      if (refineIters == 0)
        merged
          .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
          .select(col("a_id"), col("p.id").as("nbr_id"),
            (col("pos") + 1).cast("int").as("rnk"))
          .localCheckpoint()
      else
        GraphAnnLocal.knnGraphRounds(vecs, k, refineIters, seed, kk = k,
          start = Some(merged
            .select(col("a_id"), explode(col("topk")).as("p"))
            .select(col("a_id"), col("p.id").as("nbr"))))
    vecs.unpersist()
    out
  }

  /** Graph-ANN SERVING over a [[knnGraph]] index: fixed-round BEAM
    * search, the BSP-friendly variant of HNSW's greedy descent — every
    * query walks the graph simultaneously instead of one insert at a
    * time. Round 0 scores a shared set of hash-chosen entry points;
    * each round expands the beam's out-neighbors (one equi-join of the
    * |Q|·ef beam against the edge list), scores the union exactly, and
    * keeps the top-ef per query; after `rounds` rounds the top-k of
    * the final beam is the answer. Fixed rounds make the plan static
    * (the q58 BSP discipline) and the whole walk deterministic —
    * ties by id everywhere — so a SQL oracle unrolls it exactly.
    *
    * Scale shape: per round, |Q|·ef·K candidate rows through an
    * equi-join on the edge source — linear in queries, never |Q|·|B|;
    * the entry list is a broadcast. The graph is the standing index
    * ([[knnGraph]]'s output, parquet-persistable); serving touches
    * full vectors only for scoring the bounded beam.
    *
    * @param graph (a_id, nbr_id, …) edge list — [[knnGraph]] output
    * @param ef beam width (≥ k); @param nEntries entry points (≤ ef
    *   keeps round 0 a pure scoring pass). Use ≥ 2 when queries can be
    *   corpus members: with a single entry point, a query that IS that
    *   entry self-filters to an empty beam and is absent from the
    *   output (no rows, not an error)
    * @param localThreshold the single-task walk runs when |Q| and |B|
    *   are at most this and the graph's edge rows and the round-0 seed
    *   pairs at most `GraphAnnLocal.edgeCap` of it — rows as given,
    *   counted before any dedupe, in one probe job; 0 forces the
    *   distributed walk. Both walks return the same rows.
    * @return (a_id, nbr_id, rnk) — rnk 1..k by cosine desc, ties by id. */
  def graphTopK(queries: DataFrame, build: DataFrame, graph: DataFrame,
      k: Int, ef: Int, rounds: Int, nEntries: Int,
      seed: Long = 42L,
      localThreshold: Long = GraphAnnLocal.defaultThreshold): DataFrame = {
    require(nEntries >= 1, s"need at least one entry, got $nEntries")
    // entry points: the nEntries ids with smallest md5(id:seed) — a
    // fixed tiny shortlist (TakeOrdered, no global exchange), shared
    // by every query and broadcast into round 0
    val entries = build.select(col("b_id").as("nbr"))
      .orderBy(md5(concat(col("nbr").cast("string"), lit(":" + seed))),
        col("nbr"))
      .limit(nEntries)
    graphWalk(queries, build, graph, k, ef, rounds,
      queries.select(col("a_id")).crossJoin(broadcast(entries)),
      Some(nEntries), localThreshold)
  }

  /** [[graphTopK]] with CALLER-SUPPLIED round-0 candidates instead of
    * the global entry shortlist — per-query seeds (`a_id`, `nbr`).
    * The layered serve ([[graphTopKLayeredMulti]]) feeds each upper
    * level's results in here; any candidate generator (IVF cells, LSH
    * buckets) composes the same way. Queries with no seed rows are
    * absent from the output. */
  def graphTopKFrom(queries: DataFrame, build: DataFrame,
      graph: DataFrame, k: Int, ef: Int, rounds: Int,
      seedCand: DataFrame,
      localThreshold: Long = GraphAnnLocal.defaultThreshold): DataFrame =
    graphWalk(queries, build, graph, k, ef, rounds, seedCand, None,
      localThreshold)

  /** @param perQuery `Some(w)` when `seedCand` pairs every query with
    *   the same at most `w` build ids ([[graphTopK]]'s entry
    *   crossJoin): its size is then |Q| × min(w, |B|) from the probed
    *   counts and the seed frame itself is never probed; `None` probes
    *   it like the edge list. */
  private def graphWalk(queries: DataFrame, build: DataFrame,
      graph: DataFrame, k: Int, ef: Int, rounds: Int,
      seedCand: DataFrame, perQuery: Option[Int],
      localThreshold: Long): DataFrame = {
    require(k >= 1 && ef >= k && rounds >= 0,
      s"bad graph-walk shape: k=$k ef=$ef rounds=$rounds")
    // Fused single-task walk below the size guard (one probe job that
    // stops early; in-repo callers bound seeds by |Q|·width, but
    // graphTopKFrom is public with caller-supplied seeds — the seed
    // frame is probed like the edge list so an unbounded one cannot
    // coalesce into the single task). Bit-identical rows:
    // AnnSearchLocalSpec + the q253/q264/q268 oracle rows.
    if (localThreshold > 0 &&
        GraphAnnLocal.idVecShape(queries, "a_id", "a_v") &&
        GraphAnnLocal.idVecShape(build, "b_id", "b_v")) {
      val eCap = GraphAnnLocal.edgeCap(localThreshold)
      val n = Dispatch.counts("graph-walk", Seq(queries -> localThreshold,
        build -> localThreshold, graph -> eCap) ++
        perQuery.fold(Seq(seedCand -> eCap))(_ => Nil): _*)
      val small = n(0) <= localThreshold && n(1) <= localThreshold &&
        n(2) <= eCap &&
        perQuery.fold(n(3))(w => n(0) * math.min(w.toLong, n(1))) <= eCap
      if (small)
        return GraphAnnLocal.graphWalkFused(queries, build, graph,
          seedCand, k, ef, rounds)
    }
    val vecs = withNorm(build, "b_v", "b_n").persist()
    val qv = withNorm(queries, "a_v", "a_n").persist()
    val edges = graph.select(col("a_id").as("src"),
      col("nbr_id").as("nbr"))
    def topEf(cand: DataFrame, keep: Int) = cand
      .join(qv, "a_id")
      .join(vecs.select(col("b_id").as("nbr"), col("b_v"), col("b_n")),
        "nbr")
      .select(col("a_id"), col("nbr"), (-cosineCol).as("negcos"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("nbr"), col("negcos"),
        keep).as("topk"))
    var beam = topEf(
      seedCand.filter(col("a_id") =!= col("nbr")), ef)
      .select(col("a_id"), explode(col("topk")).as("p"))
      .select(col("a_id"), col("p.id").as("nbr"))
    for (_ <- 1 to rounds) {
      val expand = beam.select(col("a_id"), col("nbr").as("src"))
        .join(edges, "src")
        .select(col("a_id"), col("nbr"))
        .unionAll(beam)
        .filter(col("a_id") =!= col("nbr"))
        .distinct()
      beam = topEf(expand, ef)
        .select(col("a_id"), explode(col("topk")).as("p"))
        .select(col("a_id"), col("p.id").as("nbr"))
        .localCheckpoint() // cut per-round lineage, like the CC loop
    }
    // materialize the emit BEFORE releasing the caches (the knnGraph
    // rule): the final top-k scoring must not re-derive vecs/qv
    val out = topEf(beam, k)
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))
      .localCheckpoint()
    vecs.unpersist()
    qv.unpersist()
    out
  }

  /** The promotion predicate shared by [[layerGraphs]] and the CDC
    * maintenance stream: an id belongs to the layer with divisor
    * `divisor` iff its PORTABLE hash
    * (md5-derived, like the entry shortlist, so a SQL oracle
    * reproduces the membership) is ≡ 0 mod `divisor`. Divisors that
    * divide each other give NESTED layers — HNSW's level assignment,
    * determined at insert time by the id alone. */
  def layerPromoted(id: Column, divisor: Long, seed: Long = 42L): Column =
    pmod(graft.functions.TextFunctions.portableHash48(
      concat(id.cast("string"), lit(s":lvl:$seed"))),
      lit(divisor)) === 0

  /** Multi-level layer STACK — HNSW proper (Malkov & Yashunin 2018)
    * in BSP form: level i promotes ids whose hash
    * is ≡ 0 mod `levelDiv · growth^(i-1)` (divisors divide each other
    * ⇒ levels nest), recursing while the current top level holds more
    * than `minTop` vectors. The measured rationale (1M × 64-blob
    * probe): a level with many same-cluster peers builds an
    * INTRA-cluster k-NN graph (15,625 promoted = 244/blob →
    * disconnected; 64 entries reach ~63% of blobs and layered recall
    * capped at 0.54), while a level sparse enough that fewer than k
    * same-cluster peers exist MUST link across clusters (244 promoted
    * = 3.8/blob → connected) — so the stack recurses until the top is
    * small enough to be globally routable from a handful of entries.
    *
    * Each level's graph is NN-Descent at the level's own scale.
    * Levels stop before a level could not carry a width-`k` graph
    * (count ≤ k + 1) even if still above `minTop`.
    *
    * `growth` and `minTop` defaults are MEASURED (50k 64-blob probe,
    * near-exact base graph): a single 64×-sparser layer strands the
    * walk — 64-entry layer walks pegged at 0.846-0.867 recall no
    * matter how wide/long (wrong-basin fixpoints), while guaranteed
    * in-basin seeds hit 0.963 — so levels shrink gently (4×) and
    * recurse until the top is small enough (≤ 128) that the entry
    * shortlist covers it outright. With [[graphTopKLayeredMulti]]'s
    * per-level re-entry seeding, the levelDiv=16 stack
    * (3014/752/168/42) serves 0.943 at TEN entries (ef=20, rounds=4)
    * vs 0.9365 for the flat 256-entry walk over the same base graph;
    * the steeper div64/growth8 stack loses ~4 points (0.9045).
    *
    * @return bottom-up Seq of (level vectors, level graph) — level 1
    *   (densest) first; serve with [[graphTopKLayeredMulti]]. */
  def layerGraphs(build: DataFrame, levelDiv: Int, k: Int, iters: Int,
      seed: Long = 42L, growth: Int = 4, minTop: Long = 128L,
      maxLevels: Int = 8,
      localThreshold: Long = GraphAnnLocal.defaultThreshold):
      Seq[(DataFrame, DataFrame)] = {
    require(levelDiv >= 2, s"levelDiv must be >= 2, got $levelDiv")
    require(maxLevels >= 1, s"maxLevels must be >= 1, got $maxLevels")
    val g = if (growth > 0) growth else levelDiv
    require(g >= 2, s"growth must be >= 2, got $g")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, DataFrame)]
    var divisor = levelDiv.toLong
    var done = false
    while (!done && out.length < maxLevels) {
      val li = build.filter(layerPromoted(col("b_id"), divisor, seed))
      val cnt = li.count()
      if (cnt <= k + 1) done = true // too small for a width-k graph
      else {
        out += ((li,
          knnGraph(li, k = k, iters = iters, seed = seed, buildK = k,
            localThreshold = localThreshold)))
        if (cnt <= minTop) done = true
        divisor *= g
      }
    }
    require(out.nonEmpty,
      s"no layer could be built: fewer than ${k + 2} vectors promote " +
        s"at divisor $levelDiv — lower levelDiv or k")
    out.toSeq
  }

  /** Multi-level layered serve over a [[layerGraphs]] stack: the TOP
    * (sparsest, cross-cluster-linked) level is walked from the md5
    * entry shortlist, each level's beam seeds the next denser level's
    * round 0, and the final beam seeds the base walk
    * ([[graphTopKFrom]]). On clustered corpora this replaces the
    * hundreds of flat entries a disconnected base graph needs with
    * `nEntries` ≈ 10. Layer walks are nearly free (a level holds
    * ≈ n/levelDiv vectors or fewer), so they default wider and longer
    * than the base walk and with at least 64 entries (`l1Ef`/
    * `l1Rounds`/`l1Entries` override all levels uniformly): a stalled
    * layer walk caps base recall (20k × 64-blob, one level: 10 → 0.76,
    * 64 → 0.83, 128 → 0.85 base recall by layer entries, vs 0.16 for
    * the flat 10-entry walk). Deterministic end to end — same tie
    * rules as every walk. */
  def graphTopKLayeredMulti(queries: DataFrame, build: DataFrame,
      graph: DataFrame, layers: Seq[(DataFrame, DataFrame)], k: Int,
      ef: Int, rounds: Int, nEntries: Int, seed: Long = 42L,
      l1Ef: Int = 0, l1Rounds: Int = 0, l1Entries: Int = 0,
      localThreshold: Long = GraphAnnLocal.defaultThreshold): DataFrame = {
    require(layers.nonEmpty, "need at least one layer")
    val lEf = if (l1Ef > 0) l1Ef else 2 * ef
    val lRounds = if (l1Rounds > 0) l1Rounds else 2 * rounds
    val lNe = if (l1Entries > 0) l1Entries else math.max(nEntries, 64)
    // every level's round 0 unions the descent result with the level's
    // OWN md5 entry shortlist (the top level has only the shortlist) —
    // measured re-entry insurance: with descent-only seeding, a query
    // whose cluster has no member at some sparse level arrives at the
    // denser level in the wrong basin and the beam stalls there (50k
    // probe: descent-only 0.867-0.898 at every width/length vs 0.963
    // for guaranteed in-basin seeds); fresh per-level entries give the
    // walk a new chance to re-enter the right basin at every density
    val entriesOf = (lb: DataFrame) => broadcast(
      lb.select(col("b_id").as("nbr"))
        .orderBy(md5(concat(col("nbr").cast("string"), lit(":" + seed))),
          col("nbr"))
        .limit(lNe))
    val top = layers.last
    var seeds = graphTopK(queries, top._1, top._2, lEf, lEf, lRounds,
      lNe, seed, localThreshold)
    layers.init.reverse.foreach { case (lb, lg) =>
      // distinct: a descent result that is also a shortlist entry must
      // not occupy two heap slots in round 0 (the heap has no id dedup)
      seeds = graphTopKFrom(queries, lb, lg, lEf, lEf, lRounds,
        seeds.select(col("a_id"), col("nbr_id").as("nbr"))
          .unionAll(queries.select(col("a_id"))
            .crossJoin(entriesOf(lb)))
          .distinct(), localThreshold)
    }
    graphTopKFrom(queries, build, graph, k, ef, rounds,
      seeds.select(col("a_id"), col("nbr_id").as("nbr")), localThreshold)
  }

  /** Insert into a standing [[knnGraph]] — the graph member of the
    * standing-index CRUD family (minhash / IVF / PQ / IVF-PQ have
    * their duals already): each new vector [[graphTopK]]-searches the
    * standing graph for its `ef` nearest (the incremental small-world
    * insert, batched — every new vector walks simultaneously), adopts
    * its top-k as out-edges, and every DISCOVERED old vertex considers
    * the finder as a reverse candidate; the union (old edges ∪ reverse
    * candidates ∪ new edges) is exactly re-scored and re-pruned to k
    * per vertex. Bounded: an old vertex re-ranks its k edges plus the
    * new vectors that found it — never the corpus.
    *
    * Like real graph indexes (and unlike the IVF/PQ duals), the result
    * is NOT bit-equal to a from-scratch rebuild — insertion order is
    * part of the index. It IS deterministic and SQL-unrollable, so the
    * oracle pins the exact update; the recall contract is spec'd.
    *
    * @param graph standing (a_id, nbr_id, …) edges over `build`
    * @param build (`b_id`, `b_v`) the standing corpus
    * @param newVecs the arriving batch (`idCol`, `vecCol`), fresh ids
    * @return the updated graph (a_id, nbr_id, rnk) over build ∪ batch. */
  def addToKnnGraph(graph: DataFrame, build: DataFrame,
      newVecs: DataFrame, idCol: String, vecCol: String, k: Int,
      ef: Int, rounds: Int, nEntries: Int, seed: Long = 42L,
      localThreshold: Long = GraphAnnLocal.defaultThreshold): DataFrame = {
    require(ef >= k, s"search width ef=$ef below graph width k=$k")
    val nv = newVecs.select(col(idCol).as("a_id"), col(vecCol).as("a_v"))
    // Fused tail below the size guard: the insert walk is already a
    // fused task (graphTopK routes itself); the re-score fold —
    // standing edges ∪ reverse candidates ∪ adopted edges, exact
    // re-prune to k per touched vertex — runs in one more task instead
    // of a 2-join + aggregate round trip. Bit-identical rows
    // (AnnSearchLocalSpec; q257/q270 oracle rows).
    if (localThreshold > 0 &&
        GraphAnnLocal.idVecShape(nv, "a_id", "a_v") &&
        GraphAnnLocal.idVecShape(build, "b_id", "b_v")) {
      val eCap = GraphAnnLocal.edgeCap(localThreshold)
      if (Dispatch.fits("graph-insert", nv -> localThreshold,
          build -> localThreshold, graph -> eCap)) {
        val found = graphTopK(nv, build, graph, ef, ef, rounds, nEntries,
          seed, localThreshold)
        val allV = build.unionByName(newVecs.select(
          col(idCol).as("b_id"), col(vecCol).as("b_v")))
        return GraphAnnLocal.addToKnnGraphFused(found, graph, allV, k)
      }
    }
    // localThreshold forwards so a caller forcing the distributed
    // insert (localThreshold = 0, the Scaling/ClusterParity
    // convention) also forces the inner beam walk distributed
    val found = graphTopK(nv, build, graph, ef, ef, rounds, nEntries,
      seed, localThreshold).persist()
    val newEdges = found.filter(col("rnk") <= k)
      .select(col("a_id"), col("nbr_id").as("nbr"))
    val revCand = found.select(col("nbr_id").as("a_id"),
      col("a_id").as("nbr"))
    val allVecs = withNorm(
      build.unionByName(newVecs.select(col(idCol).as("b_id"),
        col(vecCol).as("b_v"))), "b_v", "b_n")
    val allEdges = graph.select(col("a_id"), col("nbr_id").as("nbr"))
      .unionAll(revCand)
      .unionAll(newEdges)
      .distinct()
    val out = allEdges
      .join(allVecs.select(col("b_id").as("a_id"), col("b_v").as("a_v"),
        col("b_n").as("a_n")), "a_id")
      .join(allVecs.select(col("b_id").as("nbr"), col("b_v"),
        col("b_n")), "nbr")
      .select(col("a_id"), col("nbr"), (-cosineCol).as("negcos"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("nbr"), col("negcos"),
        k).as("topk"))
      .select(col("a_id"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("a_id"), col("p.id").as("nbr_id"),
        (col("pos") + 1).cast("int").as("rnk"))
      .localCheckpoint()
    found.unpersist()
    out
  }

  /** Tombstone retraction on a standing [[knnGraph]]: drop every edge
    * touching a removed id — the shared no-retrain rule ([[
    * retractFromIvf]]'s). Surviving ranks keep their build-time values
    * (gaps mark tombstoned slots; serving only reads the edge SET).
    * Vertices that lost edges degrade gracefully until the next
    * rebuild cadence, exactly like production graph indexes. */
  def retractFromKnnGraph(graph: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame = {
    val rm = removeIds.select(col(idCol)).distinct()
    graph
      .join(rm.select(col(idCol).as("a_id")), Seq("a_id"), "left_anti")
      .join(rm.select(col(idCol).as("nbr_id")), Seq("nbr_id"),
        "left_anti")
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) —
    * diversity-aware selection from each query's cosine shortlist:
    *
    *   s_1 = argmax rel(c)
    *   s_t = argmax_{c ∉ S} [λ·rel(c) − (1−λ)·max_{s ∈ S} sim(c, s)]
    *
    * The training-data use is diverse sampling: picking k near-dup-free
    * exemplars per query/cluster instead of k copies of the same hub
    * document.
    *
    * Shape: the shortlist (top-`m` by cosine, the bounded-heap kernel)
    * is built ONCE and persisted; each of the k−1 refinement rounds is
    * one equi-join of the remaining shortlist rows against the ≤t-row
    * selected set PER QUERY (|Q|·m·t candidate-pair stream — linear in
    * queries, never corpus²) plus one per-query argmax aggregate. k and
    * m are small constants, so the loop is a fixed plan, not a
    * data-dependent iteration.
    *
    * Numerics: rel and sim are round(6)-canonicalized cosines (`+ 0.0`
    * clears the −0.0 that round can leave on tiny negatives — the q126
    * rule, or two engines order a zero tie differently); λ = 1/2 is
    * dyadic so the MMR score is computed from identical doubles in one
    * fixed order; argmax ties break on the smallest candidate id via
    * `max(struct(score, −b_id))` (avoids negating the score, which
    * would re-introduce −0.0).
    *
    * @param queries (`a_id`, `a_v`); @param build (`b_id`, `b_v`)
    * @return (`a_id`, `step` 1..k, `sel_id`). */
  def mmrRerank(queries: DataFrame, build: DataFrame, m: Int, k: Int,
      scale: Int = 6): DataFrame = {
    require(m >= k && k >= 1, s"need m >= k >= 1, got m=$m k=$k")
    val bn = withNorm(build, "b_v", "b_n")
    val qn = withNorm(queries.repartition(col("a_id")), "a_v", "a_n")
    val shortIds = qn.join(bn, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), (-cosineCol).as("negcos"))
      .groupBy("a_id")
      .agg(graft.functions.TopKByScore.topkMin(col("b_id"), col("negcos"), m)
        .as("topk"))
      .select(col("a_id"), explode(col("topk.id")).as("b_id"))
    // rejoin for vectors, then derive rel on the m-per-query rows only
    val shortlist = shortIds
      .join(bn, "b_id")
      .join(qn.select(col("a_id"), col("a_v"), col("a_n")), "a_id")
      .select(col("a_id"), col("b_id"), col("b_v"), col("b_n"),
        (round(cosineCol, scale) + lit(0.0)).as("rel"))
      .persist()
    // sim(candidate, selected) under candidate-side (a_*) aliases
    val simCol = round(
      graft.functions.VectorExpressions.dotProduct(col("b_v"), col("s_v")) /
        sqrt(col("b_n") * col("s_n")), scale) + lit(0.0)
    def argmax(df: DataFrame, score: Column, step: Int): DataFrame =
      df.groupBy("a_id")
        .agg(max(struct(score.as("sc"), (-col("b_id")).as("nid"))).as("w"))
        .select(col("a_id"), lit(step).as("step"),
          (-col("w.nid")).as("sel_id"))
    // persist only each round's INCREMENT (≤ |Q| rows) — re-persisting
    // the growing union would pin O(k²) row copies across levels
    def vecsOf(sel: DataFrame): DataFrame = sel.join(
        bn.select(col("b_id").as("sel_id"), col("b_v").as("s_v"),
          col("b_n").as("s_n")), "sel_id")
      .select(col("a_id"), col("sel_id"), col("s_v"), col("s_n"))
      .persist()
    var out = argmax(shortlist, col("rel"), 1)
    var increments = Seq(vecsOf(out))
    for (step <- 2 to k) {
      val selVecs = increments.reduce(_ union _)
      val rem = shortlist.join(selVecs
          .select(col("a_id"), col("sel_id").as("b_id")),
        Seq("a_id", "b_id"), "left_anti")
      val mmr = rem.join(selVecs, "a_id")
        .groupBy(col("a_id"), col("b_id"), col("rel"))
        .agg(max(simCol).as("maxsim"))
        .select(col("a_id"), col("b_id"),
          (lit(0.5) * col("rel") - lit(0.5) * col("maxsim")).as("score"))
      val sel = argmax(mmr, col("score"), step)
      increments = increments :+ vecsOf(sel)
      out = out.union(sel)
    }
    out.select(col("a_id"), col("step"), col("sel_id"))
  }
}
