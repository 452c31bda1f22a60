package graft

import graft.functions.KdTree
import graft.operators.EpsilonJoin
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** High-dimensional ε-join fallback (VERDICT r4 gap #3): the
  * per-partition kd-tree path must equal the grid/brute path exactly and
  * prune candidates the 3-dim grid cannot. */
class KdTreeSpec extends SparkSpec {

  /** Deterministic pseudo-random floats in [0, scale): splitmix-style
    * integer hash of (i, j). */
  private def coord(i: Long, j: Int, scale: Float): Float = {
    var z = i * 64 + j + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    ((z & 0xFFFFFL).toDouble / 0x100000L.toDouble * scale).toFloat
  }

  test("KdTree radius query == brute force, d2 bit-identical") {
    val n = 2000
    val d = 8
    val pts = Array.tabulate(n)(i => Array.tabulate(d)(j => coord(i, j, 10f)))
    val tree = new KdTree(pts)
    val r2 = 4.0
    def brute(q: Array[Float]): Map[Int, Double] =
      pts.indices.flatMap { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { // same fold as the engine kernel
          val t = pts(i)(j).toDouble - q(j).toDouble
          acc += t * t
          j += 1
        }
        if (acc <= r2) Some(i -> acc) else None
      }.toMap
    (0 until 200).foreach { qi =>
      val q = pts(qi)
      val got = scala.collection.mutable.Map.empty[Int, Double]
      tree.radiusQuery(q, r2, (i, d2) => got(i) = d2)
      assert(got.toMap == brute(q), s"query $qi differs")
    }
    // pruning actually happened: evals well under the n-per-query scan
    assert(tree.distEvals < 200L * n,
      s"no pruning: ${tree.distEvals} evals for 200 queries over $n points")
  }

  test("KdTree handles duplicates, empty, and single-leaf inputs") {
    val dup = Array.fill(50)(Array(1f, 2f, 3f))
    val t1 = new KdTree(dup)
    var cnt = 0
    t1.radiusQuery(Array(1f, 2f, 3f), 0.0, (_, d2) => { cnt += 1; assert(d2 == 0.0) })
    assert(cnt == 50)
    val t2 = new KdTree(Array.empty[Array[Float]])
    t2.radiusQuery(Array(0f), 1.0, (_, _) => fail("empty tree emitted"))
  }

  test("selfJoinKd == brute selfJoin on 64-d embeddings (pairs AND d2)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).persist()
    val eps = 1.2
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = toMap(EpsilonJoin.selfJoin(emb, "vec_id", "embedding", eps, Nil))
    val acc = spark.sparkContext.longAccumulator("kd-dist-evals")
    val kd = toMap(EpsilonJoin.selfJoinKd(emb, "vec_id", "embedding", eps,
      partitionDims = Seq(0, 1, 2), cellSize = 2 * eps, distEvals = Some(acc)))
    assert(kd.keySet == brute.keySet)
    kd.foreach { case (k, d2) => assert(d2 == brute(k), s"d2 differs at $k") }
    // No candidate bound HERE: these embeddings are quasi-uniform within
    // clusters across 64 dims, the regime where NO spatial index prunes
    // (each early-exit eval is O(few dims), same as the grid's
    // within_eps) — the bounded-candidate contract is asserted on the
    // structured dataset below. Sanity only: never MORE than all-pairs.
    val n = emb.count()
    assert(acc.value <= n * n,
      s"kd path evaluated ${acc.value} > all-ordered-pairs ${n * n}")
    emb.unpersist()
  }

  test("kd paths drop null ids/vectors like the grid predicate does") {
    val n = 200
    val d = 8
    val rows = (0 until n).map { i =>
      Row(if (i == 7) null else i.toLong,
        if (i == 13) null else Array.tabulate(d)(j => coord(i, j, 5f)).toSeq)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = true),
        StructField("features", ArrayType(FloatType, containsNull = false),
          nullable = true)))).persist()
    val clean = df.filter(col("id").isNotNull && col("features").isNotNull)
    val eps = 2.0
    val expect = EpsilonJoin.selfJoin(clean, "id", "features", eps, Nil)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val kd = EpsilonJoin.selfJoinKd(df, "id", "features", eps,
        partitionDims = Seq(0), cellSize = eps)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kd == expect)
    df.unpersist()
  }

  test("selfJoinKdAuto matches and prunes on clustered high-d data") {
    // 3 well-separated 16-d blobs: cross-cluster subtrees must be pruned
    val n = 1500
    val d = 16
    val rows = (0 until n).map { i =>
      val c = i % 3
      Row(i.toLong,
        Array.tabulate(d)(j => (c * 100f) + coord(i, j, 5f)).toSeq)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("features", ArrayType(FloatType, containsNull = false),
          nullable = false)))).persist()
    val eps = 2.5
    val brute = EpsilonJoin.selfJoin(df, "id", "features", eps, Nil)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val acc = spark.sparkContext.longAccumulator("kd-dist-evals-auto")
    val kd = EpsilonJoin.selfJoinKdAuto(df, "id", "features", eps,
        distEvals = Some(acc))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kd == brute)
    assert(brute.nonEmpty)
    // separated blobs: candidates must stay FAR under all-pairs
    assert(acc.value < n.toLong * n / 4,
      s"weak pruning: ${acc.value} evals vs ${n.toLong * n} all-pairs")
    df.unpersist()
  }

  test("auto-routing keeps the generic path for double vectors and " +
      "string ids; direct kd calls fail loudly") {
    // The kd path's physical contract is (integral id, array<float>).
    // A >3-d input that doesn't satisfy it must still produce CORRECT
    // pairs via the brute plan — not a ClassCastException (doubles) or
    // a silently empty result (string ids cast to null long).
    val n = 120
    val d = 6
    val eps = 2.0

    // double vectors, long ids
    val dblRows = (0 until n).map(i =>
      Row(i.toLong, Array.tabulate(d)(j => coord(i, j, 4f).toDouble).toSeq))
    val dbl = spark.createDataFrame(
      spark.sparkContext.parallelize(dblRows, 3),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("features", ArrayType(DoubleType, containsNull = false),
          nullable = false)))).persist()
    val expectDbl = EpsilonJoin.selfJoin(dbl, "id", "features", eps, Nil)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expectDbl.nonEmpty, "degenerate fixture: no pairs at eps")

    // string ids, float vectors: neighbor counts route through the same
    // dispatcher (Dbscan.epsPairs) and must see every id
    val strRows = (0 until n).map(i =>
      Row(s"doc$i", Array.tabulate(d)(j => coord(i, j, 4f)).toSeq))
    val str = spark.createDataFrame(
      spark.sparkContext.parallelize(strRows, 3),
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("features", ArrayType(FloatType, containsNull = false),
          nullable = false)))).persist()
    val counts = graft.operators.Dbscan
      .neighborCounts(str, "id", "features", eps, Nil)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.size == n)
    val expectCounts = expectDbl.groupBy(_._1).map { case (a, s) =>
      s"doc$a" -> (s.size + 1L)
    }
    expectCounts.foreach { case (k, v) =>
      assert(counts(k) == v, s"count mismatch at $k")
    }

    // direct kd entry points reject the incompatible schema loudly
    intercept[IllegalArgumentException] {
      EpsilonJoin.selfJoinKd(dbl, "id", "features", eps, Seq(0), eps)
    }
    intercept[IllegalArgumentException] {
      EpsilonJoin.selfJoinKd(str, "id", "features", eps, Seq(0), eps)
    }
    dbl.unpersist(); str.unpersist()
  }

  test("overfull coarse cell salts: pair set identical, memory bounded") {
    // 80% of the points pile into ONE coarse cell (a dense blob far from
    // everything else), the rest scatter; a tiny cap forces the blob's
    // cell into many salt groups. The salted pair set (and d2 values)
    // must equal the unsalted run's and the grid path's bit for bit.
    val n = 4000
    val d = 6
    val rows = (0 until n).map { i =>
      val dense = i % 5 != 0 // 80%
      Row(i.toLong, Array.tabulate(d) { j =>
        if (dense) 50f + coord(i, j, 1f) // one eps-sized blob
        else coord(i, j, 40f)
      }.toSeq)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("features", ArrayType(FloatType, containsNull = false),
          nullable = false)))).persist()
    val eps = 0.5
    def toMap(res: org.apache.spark.sql.DataFrame) =
      res.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    val unsalted = toMap(EpsilonJoin.selfJoinKd(df, "id", "features", eps,
      partitionDims = Seq(0, 1), cellSize = eps))
    // cap 200 over a ~3200-row cell -> 16 salt groups
    val salted = toMap(EpsilonJoin.selfJoinKd(df, "id", "features", eps,
      partitionDims = Seq(0, 1), cellSize = eps, maxCellRows = 200))
    assert(salted == unsalted)
    val grid = toMap(EpsilonJoin.selfJoin(df, "id", "features", eps,
      Seq(0, 1)))
    assert(salted == grid)
    assert(salted.nonEmpty && salted.keys.exists { case (a, b) =>
      a % 5 != 0 && b % 5 != 0 }) // dense-blob pairs actually flowed
    df.unpersist()
  }
}
