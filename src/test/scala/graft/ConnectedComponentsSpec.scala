package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

import scala.util.Random

/** The driver-finish fast path and the distributed iterative loop must
  * produce identical labels; both must equal a trivial sequential CC. */
class ConnectedComponentsSpec extends SparkSpec {

  private def seqCC(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def runBoth(edges: Seq[(Long, Long)], parts: Int) = {
    val df = spark.createDataFrame(edges).toDF("src", "dst")
      .repartition(parts)
    val fast = ConnectedComponents.run(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = ConnectedComponents.run(df, smallGraphThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (fast, loop)
  }

  test("long chain across many partitions (worst case for propagation)") {
    val chain = (0L until 3000L).sliding(2).map(s => (s(0), s(1))).toSeq
    val exp = seqCC(chain)
    val (fast, loop) = runBoth(chain, 16)
    assert(fast == exp)
    assert(loop == exp)
  }

  test("random graph: both paths == sequential CC") {
    val rnd = new Random(7)
    val edges = Seq.fill(4000)((rnd.nextInt(1500).toLong, rnd.nextInt(1500).toLong))
      .filter(e => e._1 != e._2) ++ Seq((9999L, 9999L)) // isolated self-loop
    val exp = seqCC(edges)
    val (fast, loop) = runBoth(edges, 8)
    assert(fast == exp)
    assert(loop == exp)
  }

  test("stars and singletons") {
    val edges = (1L to 50L).map(i => (0L, i)) ++ // star
      (100L to 120L).map(i => (i, i)) // self-loops (isolated)
    val exp = seqCC(edges)
    val (fast, loop) = runBoth(edges, 5)
    assert(fast == exp)
    assert(loop == exp)
  }

  test("the level-0 contraction and size probe run as one job, at 1, 3 " +
      "and 7 shuffle partitions") {
    import spark.implicits._
    val rnd = new Random(11)
    val edges = Seq.fill(3000)((rnd.nextInt(2000).toLong,
      rnd.nextInt(2000).toLong))
    val exp = seqCC(edges)
    for (p <- Seq(1, 3, 7); threshold <- Seq(2000000L, 0L))
      withShufflePartitions(p) {
        // no exchange upstream: it would run as a job of its own
        val df = spark.sparkContext.parallelize(edges, p).toDF("src", "dst")
        var got = Map.empty[Long, Long]
        val jobs = jobsByDesc {
          got = ConnectedComponents.run(df, smallGraphThreshold = threshold)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(jobs.get("cc: level 0 contract + size probe").contains(1),
          s"$p partitions, threshold $threshold: $jobs")
        assert(got == exp)
      }
  }
}
