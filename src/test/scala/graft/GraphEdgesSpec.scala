package graft

import graft.operators.{Hits, KCore, LabelProp, LocalGraph, PageRank,
  ShortestPath, TriangleCount}
import org.apache.spark.sql.DataFrame

class GraphEdgesSpec extends SparkSpec {
  private lazy val sq = spark
  import sq.implicits._

  test("empty edge table: every fused path == its distributed loop") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val ew = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val seeds = Seq(3L, 7L).toDF("id")
    // (name, operator at a given localThreshold, expected rows)
    val cases: Seq[(String, Long => DataFrame, Set[Seq[Any]])] = Seq(
      ("PageRank.run", t => PageRank.run(e, "src", "dst", 3,
        localThreshold = t), Set()),
      ("PageRank.personalized", t => PageRank.personalized(e, "src", "dst",
        seeds, "id", 3, localThreshold = t), Set()),
      ("Hits.run", t => Hits.run(e, "src", "dst", 3, localThreshold = t),
        Set()),
      ("LabelProp.run", t => LabelProp.run(e, "src", "dst", 3,
        localThreshold = t), Set()),
      ("ShortestPath.hops", t => ShortestPath.hops(e, "src", "dst", seeds,
        "id", localThreshold = t), Set(Seq(3L, 0), Seq(7L, 0))),
      ("ShortestPath.weighted", t => ShortestPath.weighted(ew, "src", "dst",
        "w", seeds, "id", 3, localThreshold = t),
        Set(Seq(3L, 0L), Seq(7L, 0L))),
      ("KCore.run", t => KCore.run(e, "src", "dst", 2, 3,
        localThreshold = t), Set()),
      ("TriangleCount.perNode", t => TriangleCount.perNode(e, "src", "dst",
        localThreshold = t), Set()))
    cases.foreach { case (name, op, want) =>
      def rows(t: Long) = op(t).collect().map(_.toSeq).toSet
      assert(rows(5_000_000L) == want, s"$name fused")
      // 0 edges <= a threshold of 0, so only -1 forces the loop here
      assert(rows(-1L) == want, s"$name distributed")
    }
  }

  test("NULL endpoints, weights and seed ids are dropped on both paths") {
    def some(xs: (Long, Long)*) = xs.map { case (a, b) => (Some(a), Some(b)) }
    val e = (some((1L, 2L), (2L, 3L), (2L, 1L)) ++
      Seq((None, Some(3L)), (Some(3L), None))).toDF("src", "dst")
    val ew = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(1L), Some(2L), Some(5L)), (Some(2L), Some(3L), Some(7L)),
      (Some(2L), Some(1L), Some(1L)), (None, Some(3L), Some(1L)),
      (Some(3L), None, Some(1L)), (Some(1L), Some(3L), None))
      .toDF("src", "dst", "w")
    val seeds = Seq(Some(1L), None).toDF("id")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (t <- Seq(5_000_000L, 0L)) {
      assert(rows(LabelProp.run(e, "src", "dst", 3, localThreshold = t)) ==
        Set(Seq(1L, 2L), Seq(2L, 1L), Seq(3L, 2L)), s"LabelProp.run $t")
      assert(rows(ShortestPath.hops(e, "src", "dst", seeds, "id",
        localThreshold = t)) == Set(Seq(1L, 0), Seq(2L, 1), Seq(3L, 2)),
        s"ShortestPath.hops $t")
      assert(rows(ShortestPath.weighted(ew, "src", "dst", "w", seeds, "id",
        3, localThreshold = t)) ==
        Set(Seq(1L, 0L), Seq(2L, 5L), Seq(3L, 12L)),
        s"ShortestPath.weighted $t")
    }
    val labels = Seq[(Option[Long], Option[Long])]((Some(1L), Some(100L)),
      (None, Some(5L)), (Some(2L), None)).toDF("id", "lbl")
    for ((rounds, three) <- Seq(1 -> null, 2 -> 100L))
      assert(rows(LabelProp.spread(e, "src", "dst", labels, "id", "lbl",
        rounds)) == Set(Seq(1L, 100L), Seq(2L, 100L), Seq(3L, three)),
        s"LabelProp.spread $rounds")
  }

  test("LocalGraph over distinct edges: the same arrays, in arrival " +
      "order, as a plain compaction") {
    val rnd = new scala.util.Random(29)
    val pairs = (1 to 400).map(_ =>
      (rnd.nextInt(90).toLong - 20, rnd.nextInt(90).toLong)).distinct
    val (src, dst) = (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
    val w = Array.fill(src.length)(rnd.nextLong())
    val extra = Array(500L, 3L, -7L)
    val g = LocalGraph(src, dst, w, extra, Array(3L, 999L))
    // the construction without any dedupe step
    val ids = (src ++ dst ++ extra).distinct.sorted
    def ix(xs: Array[Long]) = xs.map(java.util.Arrays.binarySearch(ids, _))
    assert(g.ids.sameElements(ids))
    assert(g.src.sameElements(ix(src)) && g.dst.sameElements(ix(dst)))
    assert(g.w eq w)
    assert(g.seeds.sameElements(ix(Array(3L))))
    val (s2, d2, w2) = LocalGraph.distinctEdges(src, dst, w)
    assert((s2 eq src) && (d2 eq dst) && (w2 eq w))
  }

  test("distinctEdges: the first copy stays in place at the least weight") {
    val src = Array(1L, 2L, 1L, 3L, 2L, 1L)
    val dst = Array(2L, 3L, 2L, 1L, 3L, 4L)
    val w = Array(9L, 4L, 5L, 1L, 6L, 2L)
    val (s, d, lw) = LocalGraph.distinctEdges(src, dst, w)
    assert(s.toSeq == Seq(1L, 2L, 3L, 1L) && d.toSeq == Seq(2L, 3L, 1L, 4L))
    assert(lw.toSeq == Seq(5L, 4L, 1L, 2L))
    assert(w.toSeq == Seq(9L, 4L, 5L, 1L, 6L, 2L)) // input untouched
    val (us, ud, uw) =
      LocalGraph.distinctEdges(src, dst, Array.emptyLongArray)
    assert(us.toSeq == s.toSeq && ud.toSeq == d.toSeq && uw.isEmpty)
  }
}
