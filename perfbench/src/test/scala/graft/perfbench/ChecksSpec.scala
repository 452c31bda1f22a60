package graft.perfbench

import graft.Scaling
import graft.operators.{Dbscan, EpsilonJoin}
import org.apache.spark.sql.functions._

/** The output checks catch one wrong label and one missing served row. */
class ChecksSpec extends BenchSparkSpec {
  private def untraced = new Tracer(spark.sparkContext)

  test("DBSCAN: the committed labels hold; one flipped label fails") {
    val w = new DbscanWorkload(DbscanWorkload.Points,
      DbscanWorkload.DefaultSeedDigest)
    w.prepare(spark, Inputs.DefaultSeed)
    val o = w.run(untraced)
    assert(w.check(o).isEmpty, w.check(o))
    val good = o.digests.toMap.apply("dist")
    val pts = Inputs.points(spark, DbscanWorkload.Points, 1, 5,
      Inputs.DefaultSeed)
    val labels = Dbscan.run(pts, "id", "features", 1.0, 5,
      EpsilonJoin.pickBucketDims(pts, "features", 1.0, knownDim = 5))
    assert(Scaling.fingerprint(labels) == good)
    val flipped = Scaling.fingerprint(labels.withColumn("cluster_id",
      when(col("id") === 17L, col("cluster_id") + 1)
        .otherwise(col("cluster_id"))))
    assert(flipped != good)
    // one path disagrees
    assert(w.check(Outcome(Seq("dist" -> good, "fused" -> flipped))).nonEmpty)
    // both paths agree, but not with the committed labels
    assert(w.check(Outcome(Seq("dist" -> flipped, "fused" -> flipped)))
      .nonEmpty)
  }

  test("DBSCAN: at any other seed the two paths must agree") {
    val w = new DbscanWorkload(2000L, "unused")
    w.prepare(spark, 5L)
    val o = w.run(untraced)
    assert(w.check(o).isEmpty, w.check(o))
    val d = o.digests.toMap.apply("dist")
    assert(w.check(Outcome(Seq("dist" -> d, "fused" -> d.reverse))).nonEmpty)
  }

  test("ANN: one dropped served row fails the check") {
    val w = new AnnWorkload(400L, "unused")
    w.prepare(spark, 3L)
    val o = w.run(untraced)
    assert(w.check(o).isEmpty, w.check(o))
    assert(w.recall >= AnnWorkload.RecallFloor)
    val dropped = Scaling.fingerprint(w.served.orderBy("a_id", "rnk")
      .limit(1999))
    assert(dropped.startsWith("1999|"))
    assert(w.check(Outcome(Seq("served" -> dropped))).nonEmpty)
  }
}
