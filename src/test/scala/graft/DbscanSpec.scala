package graft

import graft.operators.{Dbscan, DbscanTiles, Dispatch, EpsilonJoin}
import graft.sources.BinaryPoints
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Label-level DBSCAN correctness against the sequential brute-force oracle,
  * on the reference's own 2-D dataset t4.8k.bin (8000×2, committed
  * byte-identical as `fixtures/t4.8k.bin`, FIXTURES.md §4c; harness params
  * eps=10 minPts=20, reference `manyTests.py:29-55`). Because the engine's
  * labels are canonical (min-id components, dense ids by component key),
  * equality is EXACT, not up-to-relabeling.
  */
class DbscanSpec extends SparkSpec {

  private val T4 = SparkSpec.T4Bin

  private def loadT4(limit: Int): (Array[Long], Array[Array[Float]]) = {
    val rows = BinaryPoints.read(spark, T4).orderBy("id").limit(limit)
      .collect()
    val ids = rows.map(_.getLong(0))
    val pts = rows.map(_.getSeq[Float](1).toArray)
    (ids, pts)
  }

  test("binary source: header + shape + stable ids") {
    val (n, d) = BinaryPoints.header(T4)
    assert(n == 8000 && d == 2)
    val df = BinaryPoints.read(spark, T4)
    assert(df.count() == 8000)
    val ids = df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.last == 7999L && ids.distinct.length == 8000)
    // ids must not depend on partitioning (they come from file offsets)
    val ids4 = BinaryPoints.read(spark, T4, numPartitions = 7)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(ids4))
  }

  test("epsilon join matches brute force on 2-D data (with bucketing)") {
    val (ids, pts) = loadT4(1500)
    val eps = 10.0
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.zip(pts).map { case (i, p) => Row(i, p.toSeq) }.toSeq, 5),
      BinaryPoints.schema)
    val dims = EpsilonJoin.pickBucketDims(df, "features", eps)
    assert(dims.nonEmpty, "2-D data at eps=10 must produce bucket dims")
    val got = EpsilonJoin.selfJoin(df, "id", "features", eps, dims)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val eps2 = eps * eps
    val expected = (for {
      i <- ids.indices; j <- ids.indices if i != j
      if {
        var s = 0.0; var k = 0
        while (k < pts(i).length) {
          val d = pts(i)(k).toDouble - pts(j)(k).toDouble; s += d * d; k += 1
        }
        s <= eps2
      }
    } yield (ids(i), ids(j))).toSet
    assert(got == expected)
  }

  test("dbscan labels == sequential oracle (t4.8k, eps=10, minPts=20)") {
    val (ids, pts) = loadT4(8000)
    val (oracle, oracleCores) = SequentialDbscan.run(ids, pts, 10.0, 20)

    val df = BinaryPoints.read(spark, T4)
    val dims = EpsilonJoin.pickBucketDims(df, "features", 10.0)
    // default run takes the fused single-task path at this size
    val got = Dbscan.run(df, "id", "features", 10.0, 20, dims)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    assert(got.size == oracle.size)
    val diff = oracle.keys.filter(k => got(k) != oracle(k))
    assert(diff.isEmpty,
      s"${diff.size} label mismatches, e.g. ${diff.take(5).map(k => (k, got(k), oracle(k)))}")

    // the distributed path (forced via localThreshold=0) must produce the
    // IDENTICAL labels — the fast path is an optimization, not a variant
    val distributed = Dbscan.run(df, "id", "features", 10.0, 20, dims,
      localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(distributed == got, "local fast path diverged from distributed")

    // stats line (the reference's end-of-run report)
    val labelsDf = spark.createDataFrame(got.toSeq).toDF("id", "cluster_id")
    val st = Dbscan.stats(labelsDf).collect()(0)
    val expInCluster = oracle.values.count(_ != 0)
    assert(st.getLong(0) == expInCluster)
    assert(st.getLong(1) == oracle.values.count(_ == 0))
    assert(st.getLong(2) == 8000)
    assert(st.getLong(3) == oracle.values.max)
  }

  test("tile pipeline: 4ε-floor tiles == one tile (forced geometries)") {
    // The distributed path's labels must not depend on how the space is
    // tiled. Force the two extremes on the same fixture — every point in
    // one tile (no ghosts, no links) and 4ε-floor tiles (the most ghosts
    // and cross-tile links) — and require bit-identical labels.
    val df = BinaryPoints.read(spark, T4).limit(2000).persist()
    val dims = EpsilonJoin.pickBucketDims(df, "features", 10.0)
    def labels(width: Double) =
      Dbscan.runTiled(df, "id", "features", 10.0, 5, dims, 2, Some(width))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val oneTile = labels(Double.PositiveInfinity)
    val floorTiles = labels(4 * 10.0)
    assert(floorTiles == oneTile,
      "4ε-floor tiling diverged from the one-tile run")
    assert(oneTile.values.exists(_ != 0),
      "degenerate fixture: no clusters formed, geometry comparison vacuous")
    df.unpersist()
  }

  test("salted epsilon join == unsalted (same pair set)") {
    val (ids, pts) = loadT4(1200)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.zip(pts).map { case (i, p) => Row(i, p.toSeq) }.toSeq, 4),
      BinaryPoints.schema)
    val plain = EpsilonJoin.selfJoin(df, "id", "features", 10.0, Seq(0, 1))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a 2-row budget salts every ε-cell holding more than two points
    val st = EpsilonJoin.denseCellSalts(df, "features", 10.0, Seq(0, 1),
      rowsPerTask = 2L)
    assert(st.isDefined, "no t4 cell tripped the salt budget")
    val salted = EpsilonJoin.selfJoinSalted(df, "id", "features", 10.0,
      Seq(0, 1), st)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("binary writer round-trips through the reference format") {
    val dir = java.nio.file.Files.createTempDirectory("binpoints").toFile
    val out = new java.io.File(dir, "roundtrip.bin").getPath
    val orig = BinaryPoints.read(spark, T4).limit(500)
    BinaryPoints.write(orig, "id", "features", out)
    assert(BinaryPoints.header(out) == ((500, 2)))
    val back = BinaryPoints.read(spark, out)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val exp = orig.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // ids are positional: match by sorted order of original ids
    val remap = exp.keys.toSeq.sorted.zipWithIndex.map(_.swap).toMap
    assert(back.size == 500)
    remap.foreach { case (newId, origId) =>
      assert(back(newId.toLong) == exp(origId))
    }
  }

  test("binary writer is rank-parallel: 500k-point round-trip with no " +
      "driver materialization") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("binpoints500k").toFile
    val out = new java.io.File(dir, "synth500k.bin").getPath
    val n = 500_000L
    val d = 3
    // deterministic synthetic floats from the id (no RNG, no files):
    // feature j of row i = (xxhash64(i*8+j) mod 2^20) / 1024f
    val pts = spark.range(n).toDF("id")
      .select(col("id"), org.apache.spark.sql.functions.array(
        (0 until d).map(j =>
          (pmod(xxhash64(col("id") * 8 + lit(j)), lit(1L << 20)) / 1024.0)
            .cast("float")): _*).as("features"))
      .repartition(16)
    BinaryPoints.write(pts, "id", "features", out)
    assert(BinaryPoints.header(out) == ((n.toInt, d)))
    assert(new java.io.File(out).length() == 8L + n * d * 4L)
    // spot-check a sparse sample against the re-read (ids are dense, so
    // re-read row i must be original row i) — never collects the table
    val back = BinaryPoints.read(spark, out)
    assert(back.count() == n)
    val sampleIds = Seq(0L, 1L, 99_999L, 250_000L, 499_999L)
    val got = back.filter(col("id").isin(sampleIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val exp = pts.filter(col("id").isin(sampleIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    sampleIds.foreach(i => assert(got(i) == exp(i), s"row $i mismatch"))
  }

  test("dbscan is partition-count invariant") {
    val (ids, pts) = loadT4(2000)
    val mk = (parts: Int) => spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.zip(pts).map { case (i, p) => Row(i, p.toSeq) }.toSeq, parts),
      BinaryPoints.schema)
    val dims = Seq(0, 1)
    // force the DISTRIBUTED path — the single-task fast path is trivially
    // partition-invariant, the shuffling pipeline is what needs the check
    val run = (parts: Int) =>
      Dbscan.run(mk(parts), "id", "features", 10.0, 20, dims,
        localThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a = run(3)
    val b = run(13)
    assert(a == b)
  }

  test("edge cases: tiny eps -> all noise; empty neighbor graph safe") {
    val (ids, pts) = loadT4(200)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.zip(pts).map { case (i, p) => Row(i, p.toSeq) }.toSeq, 2),
      BinaryPoints.schema)
    val labels = Dbscan.run(df, "id", "features", 1e-6, 2, Seq(0, 1))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(labels.size == 200 && labels.values.forall(_ == 0))
  }

  test("minPts=1: distributed path == fused path (isolated points are core)") {
    // zero-neighbor points emit no pair rows — the distributed core test
    // must still see them when the self-count alone satisfies minPts
    val (ids, pts) = loadT4(300)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.zip(pts).map { case (i, p) => Row(i, p.toSeq) }.toSeq, 3),
      BinaryPoints.schema)
    def labels(threshold: Long) =
      Dbscan.run(df, "id", "features", 1e-6, 1, Seq(0, 1),
        minClusterSize = 1, localThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dist = labels(0L)       // distributed pipeline
    val fused = labels(100_000L) // single-task path
    assert(dist == fused)
    // with eps ~ 0 every point is its own singleton cluster, none noise
    assert(dist.size == 300 && dist.values.forall(_ > 0))
  }

  test("size-probe cap survives extreme localThreshold values") {
    // Long.MaxValue ("always local") must not overflow to a 0-row probe
    // that reads n=0 and routes any input to the one-task path
    val rows = spark.range(0, 300, 1, 7).toDF()
    def n(cap: Long) = Dispatch.counts("spec", rows -> cap).head
    assert(n(Long.MaxValue) == 300)
    assert(n(Long.MaxValue - 1) == 300)
    assert(n(Int.MaxValue.toLong) == 300)
    assert(n(300L) == 300 && n(299L) == 300)
    assert(n(100L) == 101 && n(1L) == 2 && n(0L) == 1)
  }

  test("synthPoints generator: deterministic, partitioning-free; the " +
      "distributed pipeline recovers the planted clusters") {
    import org.apache.spark.sql.functions._
    val a = Workloads.synthPoints(spark, 2000, k = 4, dims = 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val b = Workloads.synthPoints(spark, 2000, k = 4, dims = 3)
      .repartition(13).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(a == b, "generation must not depend on partitioning")
    assert(a.values.flatten.forall(v => v >= -3.0f && v <= 103.0f))
    // planted structure: ~5% noise scattered in [0,100]^3, the rest in
    // 4 tight ±3 boxes — DBSCAN at eps=1 recovers a handful of dense
    // clusters holding the vast majority of points
    val labels = Workloads.dbscanSynth(spark, 20000, k = 4, dims = 3,
      eps = 1.0, minPts = 5).persist()
    val k = labels.filter(col("cluster_id") > 0)
      .agg(countDistinct(col("cluster_id")), count(lit(1))).head()
    val (nClusters, inClusters) = (k.getLong(0), k.getLong(1))
    assert(nClusters >= 4 && nClusters <= 40,
      s"expected a few planted clusters, got $nClusters")
    assert(inClusters > 17000,
      s"clusters should hold the non-noise mass, got $inClusters/20000")
    labels.unpersist()
  }

  private def labelMap(df: DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("the tile path runs three described jobs before the caller's " +
      "action, at 1, 3 and 7 shuffle partitions") {
    val pts = Workloads.synthPoints(spark, 10000, k = 5, dims = 5).persist()
    pts.count()
    val dims = EpsilonJoin.pickBucketDims(pts, "features", 1.0)
    val fused = labelMap(Dbscan.run(pts, "id", "features", 1.0, 5, dims,
      localThreshold = Long.MaxValue))
    assert(fused.values.exists(_ > 0), "degenerate fixture: no clusters")
    for (p <- Seq(1, 3, 7)) withShufflePartitions(p) {
      var out: DataFrame = null
      val jobs = jobsByDesc {
        out = Dbscan.run(pts, "id", "features", 1.0, 5, dims,
          localThreshold = 0L)
      }
      assert(jobs == Map("dbscan: tile: ranges" -> 1,
        "dbscan: tile kernel" -> 1, "dbscan: cluster sizes" -> 1),
        s"at $p partitions")
      assert(labelMap(out) == fused, s"at $p partitions")
    }
    // a row cap below n brings back one row-count job per fit round
    val cap = 2000L
    val (base, _) = DbscanTiles.base(pts, "features", 2.0, dims, None,
      "spec").get
    val rows = DbscanTiles.points(pts, "id", "features")
    val rounds = jobsByDesc(DbscanTiles.fit(rows, base, cap,
      spark.sessionState.conf.numShufflePartitions, "dbscan"))
    assert(rounds("dbscan: tile row counts") >= 2, rounds)
    var capped: DataFrame = null
    val jobs = jobsByDesc {
      capped = Dbscan.runTiled(pts, "id", "features", 1.0, 5, dims, 2,
        maxTileRows = cap)
    }
    assert(jobs == rounds ++ Map("dbscan: tile: ranges" -> 1,
      "dbscan: tile kernel" -> 1, "dbscan: cluster sizes" -> 1))
    assert(labelMap(capped) == fused)
    pts.unpersist()
  }

  test("the tile path leaves nothing cached") {
    val pts = Workloads.synthPoints(spark, 3000, k = 4, dims = 3).persist()
    pts.count()
    val left = persistedBy(Dbscan.run(pts, "id", "features", 1.0, 5,
      Seq(0, 1, 2), localThreshold = 0L).count())
    assert(left.isEmpty, left)
    pts.unpersist()
  }
}
