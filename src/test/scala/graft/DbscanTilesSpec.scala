package graft

import graft.operators.{Dbscan, DbscanTiles, EpsilonJoin}
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
    def tiled(width: Option[Double], maxRows: Long = 262144L) =
      labels(Dbscan.runTiled(pts, "id", "features", eps, minPts, dims,
        minClusterSize, width, maxRows))
    Seq(
      "fused" -> labels(Dbscan.run(pts, "id", "features", eps, minPts, dims,
        minClusterSize, localThreshold = Long.MaxValue)),
      "one tile" -> tiled(Some(Double.PositiveInfinity)),
      "4ε-floor tiles" -> tiled(Some(4 * eps)),
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
}
