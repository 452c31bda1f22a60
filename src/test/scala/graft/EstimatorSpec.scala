package graft

import graft.operators.{Dbscan, DbscanEstimator, EpsilonJoin, SpatialPartition}
import graft.sources.BinaryPoints
import org.apache.spark.sql.functions._

class EstimatorSpec extends SparkSpec {

  test("DbscanEstimator == Dbscan.run; transform appends cluster_id") {
    val pts = BinaryPoints.read(spark, SparkSpec.T4Bin).persist()
    val model = new DbscanEstimator()
      .setEps(10.0).setMinPts(20)
      .setIdCol("id").setFeaturesCol("features")
      .fit(pts)
    val direct = Dbscan.run(pts, "id", "features", 10.0, 20,
      EpsilonJoin.pickBucketDims(pts, "features", 10.0))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaModel = model.labels
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaModel == direct)

    val transformed = model.transform(pts)
    assert(transformed.columns.contains("cluster_id"))
    assert(transformed.count() == 8000)
    val st = model.stats.collect()(0)
    assert(st.getLong(2) == 8000)
    pts.unpersist()
  }

  test("sampling gate is deterministic and applied") {
    val pts = BinaryPoints.read(spark, SparkSpec.T4Bin)
    val a = graft.operators.PointSink.sampleGate(pts, 0.5, seed = 7L)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = graft.operators.PointSink.sampleGate(pts, 0.5, seed = 7L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.size > 2000 && a.size < 6000)
  }

  test("spatial repartition preserves rows and co-locates neighbors") {
    val pts = BinaryPoints.read(spark, SparkSpec.T4Bin)
    val out = SpatialPartition.repartitionSpatially(
      pts, "features", cellWidth = 10.0, dims = Seq(0, 1), numPartitions = 8)
    assert(out.count() == 8000)
    assert(out.rdd.getNumPartitions == 8)
    assert(out.columns.toSeq == Seq("id", "features")) // helper col dropped
    // spatial coherence: most ε-pairs should fall inside one partition
    val withPid = out.withColumn("pid", spark_partition_id())
      .select(col("id"), col("pid"))
    val pairs = EpsilonJoin.selfJoin(pts, "id", "features", 10.0, Seq(0, 1))
    val crossPart = pairs
      .join(withPid.withColumnRenamed("id", "a_id").withColumnRenamed("pid", "a_pid"), "a_id")
      .join(withPid.withColumnRenamed("id", "b_id").withColumnRenamed("pid", "b_pid"), "b_id")
      .select(avg(when(col("a_pid") === col("b_pid"), 1.0).otherwise(0.0)))
      .collect()(0).getDouble(0)
    assert(crossPart > 0.5, s"co-located pair fraction $crossPart")
  }
}
