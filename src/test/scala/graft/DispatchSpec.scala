package graft

import graft.operators.{AnnSearch, Dbscan, Dispatch, GraphAnnLocal,
  LabelProp, ShortestPath}
import org.apache.spark.sql.functions._

/** A size-dispatched operator decides its route with ONE size-probe job
  * ([[Dispatch]]); a forced-distributed call (`localThreshold = 0`)
  * probes nothing. */
class DispatchSpec extends SparkSpec {
  private lazy val sq = spark
  import sq.implicits._

  // three partitions and no exchange: a probed input with a shuffle
  // would run its map stage as a job of its own under AQE
  private lazy val edges = {
    val rnd = new scala.util.Random(3)
    spark.sparkContext.parallelize((1 to 200).map(_ => (rnd.nextInt(50)
      .toLong, rnd.nextInt(50).toLong, rnd.nextInt(9).toLong + 1)), 3)
      .toDF("src", "dst", "w")
  }
  private lazy val seeds = Seq(0L, 7L).toDF("id")

  private lazy val vecs = {
    val rnd = new scala.util.Random(9)
    (0L until 120L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("b_id", "b_v").persist()
  }

  /** `op`'s size-probe jobs among those `f` runs. */
  private def probes(op: String)(f: => Any): Int =
    jobsByDesc(f).getOrElse(s"$op: size probe", 0)

  test("counts: every input up to its cap, in one job") {
    val a = spark.range(0, 50, 1, 4).toDF()
    val b = spark.range(0, 500, 1, 3).toDF()
    var n = Array.empty[Long]
    val jobs = jobsByDesc {
      n = Dispatch.counts("spec", a -> 100L, b -> 100L, a -> 49L)
    }
    assert(n.toSeq == Seq(50L, 101L, 50L))
    assert(jobs == Map("spec: size probe" -> 1))
    assert(Dispatch.fits("spec", a -> 50L, b -> 500L))
    assert(!Dispatch.fits("spec", a -> 50L, b -> 499L))
  }

  test("gather: every row when each partition fits its share of the " +
      "cap, in one job; None when one does not") {
    val rdd = spark.sparkContext.parallelize(1 to 40, 4) // 10 per partition
    var got = Option.empty[Array[Int]]
    val jobs = jobsByDesc { got = Dispatch.gather(rdd, "spec: gather", 40L) }
    assert(got.map(_.sorted.toSeq).contains(1 to 40))
    assert(jobs == Map("spec: gather" -> 1))
    assert(Dispatch.gather(rdd, "spec: gather", 43L).isDefined)
    assert(Dispatch.gather(rdd, "spec: gather", 39L).isEmpty)
    assert(Dispatch.gather(rdd.filter(_ => false), "spec: gather", 0L)
      .exists(_.isEmpty))
  }

  test("one size-probe job per graph-loop dispatch, none when forced " +
      "distributed") {
    val cases: Seq[(String, Long => Any)] = Seq(
      "shortest-path" -> (t => ShortestPath.hops(edges, "src", "dst",
        seeds, "id", 4, t).collect()),
      "shortest-path" -> (t => ShortestPath.weighted(edges, "src", "dst",
        "w", seeds, "id", 4, t).collect()),
      "label-prop" -> (t => LabelProp.run(edges, "src", "dst", 3,
        t).collect()))
    for ((op, run) <- cases) {
      assert(probes(op)(run(1000L)) == 1, op)
      assert(probes(op)(run(0L)) == 0, op)
    }
  }

  test("one size-probe job per graphTopK and Dbscan.run dispatch") {
    val g = AnnSearch.knnGraph(vecs, k = 5, iters = 1)
    g.count()
    val q = vecs.filter(col("b_id") % 10 === 0)
      .select(col("b_id").as("a_id"), col("b_v").as("a_v"))
    def serve(t: Long) = AnnSearch.graphTopK(q, vecs, g, 5, 10, 2,
      nEntries = 8, localThreshold = t).collect()
    assert(probes("graph-walk")(serve(GraphAnnLocal.defaultThreshold)) == 1)
    assert(probes("graph-walk")(serve(0L)) == 0)
    val pts = vecs.select(col("b_id").as("id"),
      slice(col("b_v"), 1, 2).as("features"))
    def cluster(t: Long) = Dbscan.run(pts, "id", "features", 0.05, 3,
      Seq(0, 1), localThreshold = t).collect()
    assert(probes("dbscan")(cluster(100_000L)) == 1)
    assert(probes("dbscan")(cluster(0L)) == 0)
  }
}
