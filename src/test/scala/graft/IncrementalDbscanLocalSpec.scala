package graft

import graft.operators.{EpsilonJoin, IncrDbscanLocal, IncrementalDbscan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused single-task state builds must be BIT-IDENTICAL to the
  * distributed incremental folds — every state table, row for row (the
  * AnnSearchLocalSpec discipline applied to IncrementalDbscan). */
class IncrementalDbscanLocalSpec extends SparkSpec {

  // SparkEntry's q164/q231/q235 geometry (Eps=1.2, MinPts=8) — the
  // fixture actually clusters at this radius, so the equality is
  // exercised on non-trivial cores/borders/components
  private val Eps = 1.2
  private val MinPts = 8

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").persist()

  private def tbl(df: DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sorted(
      Ordering.by((s: Seq[String]) => s.mkString("|")))

  private def assertStateEqual(a: IncrementalDbscan.State,
      b: IncrementalDbscan.State): Unit = {
    assert(tbl(a.points.select("id")) == tbl(b.points.select("id")),
      "points differ")
    assert(tbl(a.counts) == tbl(b.counts), "counts differ")
    assert(tbl(a.coreComp) == tbl(b.coreComp), "coreComp differ")
    assert(tbl(a.borderPairs) == tbl(b.borderPairs), "borderPairs differ")
  }

  /** One fused == distributed input: a table, its columns, the
    * clustering parameters and the ε-grid dims. */
  private case class Input(name: String, df: DataFrame, idCol: String,
      vecCol: String, eps: Double, minPts: Int, dims: Seq[Int])

  // the embeddings take the brute-force scan (no bucket dims); the
  // low-dimensional synthetic blobs take the kernel's ε-grid, the same
  // cells as the distributed EpsilonJoin
  private lazy val inputs: Seq[Input] = {
    val synth = Workloads.synthPoints(spark, 3000, k = 4, dims = 3)
      .persist()
    val dims = EpsilonJoin.pickBucketDims(synth, "features", 1.0)
    assert(dims.nonEmpty, "synth input must exercise the grid branch")
    Seq(Input("embeddings, no bucket dims", emb, "vec_id", "embedding",
      Eps, MinPts, Nil),
      Input(s"synthPoints 3-d, bucket dims $dims", synth, "id", "features",
        1.0, 5, dims))
  }

  test("init: fused state == distributed state, all four tables") {
    inputs.foreach { in =>
      val fused = IncrementalDbscan.init(in.df, in.idCol, in.vecCol,
        in.eps, in.minPts, in.dims)
      val dist = IncrementalDbscan.init(in.df, in.idCol, in.vecCol,
        in.eps, in.minPts, in.dims, localThreshold = 0L)
      withClue(in.name) {
        assertStateEqual(fused, dist)
        assert(fused.counts.count() > 0, "degenerate fixture: no pairs")
        assert(fused.borderPairs.count() > 0, "degenerate fixture: no borders")
      }
    }
  }

  test("addPoints: fused fold == distributed fold") {
    inputs.foreach { in =>
      val old = in.df.filter(col(in.idCol) % 10 =!= 0)
      val batch = in.df.filter(col(in.idCol) % 10 === 0)
      def fold(threshold: Long) = IncrementalDbscan.addPoints(
        IncrementalDbscan.pin(IncrementalDbscan.init(old, in.idCol,
          in.vecCol, in.eps, in.minPts, in.dims, localThreshold = threshold)),
        batch, in.idCol, in.vecCol, in.eps, in.minPts, in.dims,
        localThreshold = threshold)
      val f = fold(IncrDbscanLocal.defaultThreshold)
      val d = fold(0L)
      withClue(in.name) {
        assertStateEqual(f, d)
        // and labels downstream agree too (the user-facing contract)
        assert(tbl(IncrementalDbscan.labels(f)) ==
          tbl(IncrementalDbscan.labels(d)))
      }
    }
  }

  test("removePoints: fused fold == distributed fold (+ unknown ids)") {
    inputs.foreach { in =>
      val rm = in.df.filter(col(in.idCol) % 7 === 0).select(in.idCol)
        .unionAll(spark.range(900000, 900005).select(
          col("id").as(in.idCol))) // unknown ids must be ignored
      def fold(threshold: Long) = IncrementalDbscan.removePoints(
        IncrementalDbscan.pin(IncrementalDbscan.init(in.df, in.idCol,
          in.vecCol, in.eps, in.minPts, in.dims, localThreshold = threshold)),
        rm, in.idCol, in.eps, in.minPts, in.dims, localThreshold = threshold)
      val f = fold(IncrDbscanLocal.defaultThreshold)
      val d = fold(0L)
      withClue(in.name) {
        assertStateEqual(f, d)
        assert(tbl(IncrementalDbscan.labels(f)) ==
          tbl(IncrementalDbscan.labels(d)))
      }
    }
  }

  test("state round-trip through saveState/loadState stays fused-equal") {
    val p = java.nio.file.Files.createTempDirectory("graft_state_spec")
    try {
      val st0 = IncrementalDbscan.pin(IncrementalDbscan.init(emb,
        "vec_id", "embedding", Eps, MinPts, Nil))
      IncrementalDbscan.saveState(st0, p.toString, Eps, MinPts, Nil)
      val st1 = IncrementalDbscan.loadState(spark, p.toString, Eps,
        MinPts, Nil)
      val rm = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
      val f = IncrementalDbscan.removePoints(st1, rm, "vec_id", Eps,
        MinPts, Nil)
      val d = IncrementalDbscan.removePoints(st1, rm, "vec_id", Eps,
        MinPts, Nil, localThreshold = 0L)
      assertStateEqual(f, d)
    } finally Workloads.deleteTree(p.toString)
  }

  test("minPts <= 1: every point is core in both paths") {
    val f = IncrementalDbscan.init(emb, "vec_id", "embedding", Eps, 1, Nil)
    val d = IncrementalDbscan.init(emb, "vec_id", "embedding", Eps, 1,
      Nil, localThreshold = 0L)
    assertStateEqual(f, d)
    assert(f.coreComp.count() == emb.count(),
      "minPts=1 must make every point core")
  }

  test("a null-vector row and a null-id row: fused == distributed, both " +
      "stay points and label noise") {
    val synth = inputs(1)
    val pts = synth.df.select(col("id"), col("features"))
    // the null-id row sits on point 0, so a kernel that saw it would
    // change point 0's count
    val nulls = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(900001L, null)),
        org.apache.spark.sql.types.StructType(
          pts.schema.fields.map(_.copy(nullable = true))))
      .union(pts.filter(col("id") === 0).select(lit(null).cast("long"),
        col("features")))
    def init(df: DataFrame, threshold: Long) = IncrementalDbscan.pin(
      IncrementalDbscan.init(df, "id", "features", synth.eps, synth.minPts,
        synth.dims, localThreshold = threshold))
    def add(threshold: Long) = IncrementalDbscan.addPoints(
      init(pts.filter(col("id") % 10 =!= 0), threshold),
      pts.filter(col("id") % 10 === 0).union(nulls), "id", "features",
      synth.eps, synth.minPts, synth.dims, localThreshold = threshold)
    for ((name, f, d) <- Seq(
        ("init", init(pts.union(nulls), IncrDbscanLocal.defaultThreshold),
          init(pts.union(nulls), 0L)),
        ("addPoints", add(IncrDbscanLocal.defaultThreshold), add(0L))))
      withClue(name) {
        assertStateEqual(f, d)
        assert(f.points.filter(col("id").isNull || col("id") === 900001L)
          .count() == 2)
        val labels = tbl(IncrementalDbscan.labels(f))
        assert(labels == tbl(IncrementalDbscan.labels(d)))
        assert(labels.contains(Seq("null", "0")) &&
          labels.contains(Seq("900001", "0")))
      }
  }
}
