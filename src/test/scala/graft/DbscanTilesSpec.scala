package graft

import graft.operators.{ConnectedComponents, Dbscan, DbscanTiles, EpsilonJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distributed DBSCAN path's labels do not depend on the tiling:
  * one tile, 4ε-floor tiles, the default geometry, tiles split under a
  * low row cap and the fused one-task path all give equal labels. */
class DbscanTilesSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def points(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("id", "features")

  private def tilesOf(pts: DataFrame, dims: Seq[Int], width: Double,
      eps: Double, maxRows: Long): DbscanTiles =
    DbscanTiles.fit(pts.rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      new DbscanTiles(dims.toArray, width, 2 * eps), maxRows, 8, "dbscan")._1

  /** Labels of every geometry, keyed by name; the fused path first. */
  private def byGeometry(pts: DataFrame, eps: Double, minPts: Int,
      dims: Seq[Int], minClusterSize: Int = 2): Seq[(String, Map[Long, Int])] = {
    def tiled(width: Option[Double], maxRows: Long = 262144L,
        maxDriverLinks: Long = ConnectedComponents.SmallGraphThreshold) =
      labels(Dbscan.runTiled(pts, "id", "features", eps, minPts, dims,
        minClusterSize, width, maxRows, maxDriverLinks))
    var viaCc = Map.empty[Long, Int]
    // a driver link cap of 0 sends every link through the CC merge
    val ccJobs = jobsByDesc { viaCc = tiled(Some(4 * eps), maxDriverLinks = 0L) }
    assert(ccJobs.contains("cc: level 0 contract + size probe"), ccJobs)
    Seq(
      "fused" -> labels(Dbscan.run(pts, "id", "features", eps, minPts, dims,
        minClusterSize, localThreshold = Long.MaxValue)),
      "one tile" -> tiled(Some(Double.PositiveInfinity)),
      "4ε-floor tiles" -> tiled(Some(4 * eps)),
      "4ε-floor tiles, links merged by ConnectedComponents" -> viaCc,
      "default tiles" -> tiled(None),
      "32ε tiles split under a 64-row cap" -> tiled(Some(32 * eps), 64L))
  }

  private def assertInvariant(pts: DataFrame, eps: Double, minPts: Int,
      dims: Seq[Int], minClusterSize: Int = 2): Map[Long, Int] = {
    val all = byGeometry(pts, eps, minPts, dims, minClusterSize)
    val (_, fused) = all.head
    assert(fused.size == pts.count())
    assert(fused.values.exists(_ > 0), "degenerate fixture: no clusters")
    all.tail.foreach { case (name, got) =>
      val diff = fused.keys.filter(k => got.get(k) != fused.get(k))
      assert(got.size == fused.size && diff.isEmpty,
        s"$name: ${diff.size} labels differ from fused, e.g. " +
          diff.take(5).map(k => (k, got.get(k), fused(k))).mkString(", "))
    }
    fused
  }

  test("3000 synthetic points with pickBucketDims dims: every geometry " +
      "== fused, and the low row cap splits tiles") {
    val pts = Workloads.synthPoints(spark, 3000, k = 4, dims = 3).persist()
    val dims = EpsilonJoin.pickBucketDims(pts, "features", 1.0)
    assert(dims.nonEmpty)
    assertInvariant(pts, 1.0, 5, dims)
    assert(tilesOf(pts, dims, 32.0, 1.0, 64L).split.nonEmpty,
      "the 64-row cap must split the 32ε tiles")
    pts.unpersist()
  }

  test("a core chain that crosses many tiles is one cluster") {
    // two parallel chains, 0.5ε spacing over 30ε, ids scrambled so no
    // chain end holds its min id
    val chains = for {
      c <- 0 until 2; i <- 0 to 60
    } yield ((c * 61 + (i * 37) % 61).toLong + 100L,
      Seq(i * 0.5f, c * 5.0f))
    val pts = points(chains)
    val eps = 0.6
    val floorTiles = new DbscanTiles(Array(0, 1), 4 * eps, 2 * eps)
    val homes = chains.filter(_._2(1) == 0f)
      .map(p => floorTiles.route(p._2.toArray)._1).distinct
    assert(homes.size >= 5, s"chain crosses only ${homes.size} tiles")
    val got = assertInvariant(pts, eps, 3, Seq(0, 1))
    assert(got.values.toSet == Set(1, 2))
  }

  test("a border point between two tiles and two comps takes the min " +
      "global comp, not the min comp its own tile sees") {
    // eps 1, minPts 6, 4ε = 4-wide tiles along x. Comp A: a 2-row
    // lattice over x in [1.2, 3.2] whose min ids (0, 1) sit at x = 1.2,
    // beyond the 2ε halo of the tile [4, 8). Comp B: its mirror over
    // x in [4.8, 6.8], ids 10..21. The border point at x = 4.0 lives in
    // tile [4, 8) with one core neighbor from each comp; there, A's
    // local comp id is >= 50 > 10, but A's global comp is 0.
    val xs = (0 until 6).map(i => 1.2f + 0.4f * i)
    val ys = Seq(0f, 0.3f)
    val a = for { (x, i) <- xs.zipWithIndex; (y, j) <- ys.zipWithIndex }
      yield ((if (i == 0) j.toLong else 50L + 2 * i + j), Seq(x, y))
    val b = for { (x, i) <- xs.zipWithIndex; (y, j) <- ys.zipWithIndex }
      yield (10L + 2 * i + j, Seq(8.0f - x, y))
    val border = 1000L -> Seq(4.0f, 0f)
    val got = assertInvariant(points(a ++ b :+ border), 1.0, 6, Seq(0, 1))
    assert(got(0L) != got(10L) && got(0L) > 0 && got(10L) > 0)
    assert(got(1000L) == got(0L))
  }

  test("minPts = 1: every point is a core, singletons included") {
    val pts = Workloads.synthPoints(spark, 800, k = 3, dims = 2).persist()
    val got = assertInvariant(pts, 0.3, 1, Seq(0, 1), minClusterSize = 1)
    assert(got.values.forall(_ > 0))
    pts.unpersist()
  }

  test("negative coordinates and negative ids") {
    val pts = Workloads.synthPoints(spark, 2000, k = 3, dims = 2)
      .select((col("id") - 5000L).as("id"),
        transform(col("features"), x => x - lit(60.0f)).as("features"))
      .persist()
    assert(pts.filter(col("features")(0) < 0).count() > 0)
    assertInvariant(pts, 1.0, 5, Seq(0, 1))
    pts.unpersist()
  }

  test("a blob over the row cap at the 4ε floor: fit reports its tile, " +
      "and the tile path, which runs it whole, == fused") {
    val eps = 1.0
    val cap = 200L
    val rnd = new scala.util.Random(7)
    // 600 points inside the 4ε tile [8, 12)², 800 spread over 60 × 60
    val blob = (0 until 600).map(i =>
      i.toLong -> Seq(8.5f + 3f * rnd.nextFloat(), 8.5f + 3f * rnd.nextFloat()))
    val spread = (600 until 1400).map(i =>
      i.toLong -> Seq(60f * rnd.nextFloat(), 60f * rnd.nextFloat()))
    val pts = points(blob ++ spread).persist()
    val (tiles, over) = DbscanTiles.fit(
      pts.rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      new DbscanTiles(Array(0, 1), 4 * eps, 2 * eps), cap, 8, "dbscan")
    val blobTile = tiles.home(Array(10f, 10f))
    assert(over.get(blobTile).exists(_ >= 600),
      s"fit must report the blob's tile, got $over")
    assert(over.keys.forall(!tiles.canSplit(_)))
    val fused = labels(Dbscan.run(pts, "id", "features", eps, 5, Seq(0, 1),
      localThreshold = Long.MaxValue))
    val tiled = labels(Dbscan.runTiled(pts, "id", "features", eps, 5,
      Seq(0, 1), 2, Some(4 * eps), cap))
    assert(fused.values.exists(_ > 0), "degenerate fixture: no clusters")
    assert(tiled == fused)
    pts.unpersist()
  }

  /** The ranges pass's reference: the SQL `min`/`max` aggregate it
    * replaced, one (dim, max − min) per scanned dim; None when the first
    * scanned dim holds no value. */
  private def sqlSpans(df: DataFrame, scanned: Seq[Int]): Option[Seq[(Int, Double)]] = {
    val aggs = scanned.flatMap { d =>
      val c = element_at(col("features"), d + 1).cast("double")
      Seq(min(c).as(s"mn$d"), max(c).as(s"mx$d"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    if (row.isNullAt(0)) None
    else Some(scanned.indices.map(i =>
      scanned(i) -> (row.getDouble(2 * i + 1) - row.getDouble(2 * i))))
  }

  /** `kdHeuristic`'s (dims, cell) from the SQL aggregate. */
  private def sqlKdHeuristic(df: DataFrame, maxDims: Int, cellsPerCore: Int,
      fixedDims: Seq[Int]): Option[(Seq[Int], Double)] = {
    val scanned = if (fixedDims.nonEmpty) fixedDims
      else 0 until graft.functions.VectorOps.probeDim(df, "features").getOrElse(0)
    if (scanned.isEmpty) return None
    sqlSpans(df, scanned).map { spans =>
      val ranges =
        if (fixedDims.nonEmpty) spans
        else spans.sortBy { case (d, r) => (-r, d) }.take(maxDims).filter(_._2 > 0)
      if (ranges.isEmpty) (Seq(0), 0.0)
      else {
        val cells = math.max(1, cellsPerCore * spark.sessionState.conf.numShufflePartitions)
        (ranges.map(_._1),
          math.pow(ranges.map(_._2).product / cells, 1.0 / ranges.size))
      }
    }
  }

  /** `pickBucketDims` from the SQL aggregate. */
  private def sqlPickBucketDims(df: DataFrame, eps: Double, maxDims: Int,
      minCellsPerDim: Int, dim: Int): Seq[Int] =
    sqlSpans(df, 0 until dim).fold(Seq.empty[Int])(_
      .filter { case (_, r) => r / eps >= minCellsPerDim }
      .sortBy { case (d, r) => (-r, d) }
      .take(maxDims)
      .map(_._1))

  test("ranges pass == the SQL min/max aggregate: nulls, NaN, ±0.0, a " +
      "constant dim, an all-null input; one job") {
    def v(xs: java.lang.Float*): Option[Seq[java.lang.Float]] = Some(xs)
    // dim 0 spread with both zeros, dim 1 constant, dim 2 spread with a
    // NaN, dim 3 only ±0.0; null elements in every dim, null vectors
    val rows = Seq(v(-0.0f, 5f, 1f, 0f), v(0.0f, 5f, 3f, -0.0f),
      v(7.5f, null, Float.NaN, 0f), None, v(null, 5f, -4f, null),
      v(-2.25f, 5f, null, -0.0f), None, v(3f, 5f, 2f, 0f))
      .zipWithIndex.map { case (x, i) => (i.toLong, x) }
    val floats = rows.toDF("id", "features")
    val doubles = floats.select(col("id"),
      col("features").cast("array<double>").as("features"))
    val allNull = rows.map { case (i, _) =>
      (i, Option.empty[Seq[java.lang.Float]]) }.toDF("id", "features")
    def sameCell(a: Option[(Seq[Int], Double)], b: Option[(Seq[Int], Double)]) =
      a.map(_._1) == b.map(_._1) && a.zip(b).forall { case ((_, x), (_, y)) =>
        x == y || (x.isNaN && y.isNaN) }
    for (df <- Seq(floats, doubles, allNull)) {
      for (fixed <- Seq(Nil, Seq(0), Seq(1), Seq(2), Seq(3), Seq(0, 2),
          Seq(3, 1, 0, 2)); maxDims <- 1 to 4) {
        val got = DbscanTiles.kdHeuristic(df, "features", maxDims, 4, "spec",
          fixed).map(h => (h._1, h._2))
        val want = sqlKdHeuristic(df, maxDims, 4, fixed)
        assert(sameCell(got, want), s"kdHeuristic($fixed, $maxDims): $got != $want")
      }
      for (eps <- Seq(0.1, 1.0, 2.0); minCells <- Seq(1, 4); maxDims <- 1 to 3)
        assert(EpsilonJoin.pickBucketDims(df, "features", eps, maxDims,
          minCells, knownDim = 4) ==
          sqlPickBucketDims(df, eps, maxDims, minCells, 4),
          s"pickBucketDims($eps, $minCells, $maxDims)")
    }
    assert(DbscanTiles.kdHeuristic(floats, "features", 3, 4, "spec",
      Seq(0, 1, 2, 3)).map(_._3) == Some(6L), "non-null vectors")
    assert(DbscanTiles.kdHeuristic(allNull, "features", 3, 4, "spec",
      Seq(0)).isEmpty)
    assert(jobsByDesc(DbscanTiles.kdHeuristic(floats, "features", 3, 4,
      "spec", Seq(0, 2))) == Map("spec: ranges" -> 1))
    // without fixed dims the pass learns the vector length: no probe job
    assert(jobsByDesc(DbscanTiles.kdHeuristic(floats, "features", 3, 4,
      "spec")) == Map("spec: ranges" -> 1))
    assert(jobsByDesc(EpsilonJoin.pickBucketDims(floats, "features", 1.0))
      == Map("pickBucketDims: ranges" -> 1))
  }

  test("a vector shorter than a scanned dim fails the ranges pass") {
    val ragged = Seq(1L -> Seq(0f, 1f, 2f), 2L -> Seq(3f, 4f),
      3L -> Seq(5f, 6f, 7f)).toDF("id", "features")
    // the SQL aggregate fails too: element_at is out of bounds under ANSI
    intercept[Exception](sqlSpans(ragged, Seq(2)))
    val e = intercept[IllegalArgumentException](DbscanTiles.kdHeuristic(
      ragged, "features", 3, 4, "spec", Seq(0, 2)))
    assert(e.getMessage.contains("length 2") && e.getMessage.contains("dim 2"),
      e.getMessage)
    intercept[IllegalArgumentException](EpsilonJoin.pickBucketDims(ragged,
      "features", 1.0, knownDim = 3))
    // scanning every dim, the pass fails on a ragged input whichever
    // vector comes first, the short one too
    Seq(ragged, ragged.orderBy(size(col("features")))).foreach { df =>
      val all = intercept[IllegalArgumentException](DbscanTiles.kdHeuristic(
        df, "features", 3, 4, "spec"))
      assert(all.getMessage.contains("spec: ranges") &&
        all.getMessage.contains("length 2") && all.getMessage.contains("dim 2"),
        all.getMessage)
      intercept[IllegalArgumentException](EpsilonJoin.pickBucketDims(df,
        "features", 1.0))
    }
    // dims the short vector holds still range
    assert(DbscanTiles.kdHeuristic(ragged, "features", 3, 4, "spec",
      Seq(1)).map(_._1) == Some(Seq(1)))
  }
}
