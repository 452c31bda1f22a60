package graft

import graft.operators.{Hits, KCore, LabelProp, PageRank, ShortestPath,
  TriangleCount}
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
}
