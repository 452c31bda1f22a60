package graft

import graft.sources.BinaryPoints
import org.apache.spark.sql.functions._

class BinaryPointsV2Spec extends SparkSpec {

  private val T4 = SparkSpec.T4Bin

  test("DSv2 format('binaryPoints') == one-shot loader") {
    val v2 = spark.read.format("binaryPoints").option("path", T4).load()
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val v1 = BinaryPoints.read(spark, T4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(v2.size == 8000 && v2 == v1)
  }

  test("split planning respects maxBytesPerPartition") {
    val df = spark.read.format("binaryPoints")
      .option("path", T4).option("maxBytesPerPartition", 8000L) // 1000 rows
      .load()
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 8000)
    val ids = df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.head == 0 && ids.last == 7999 && ids.distinct.length == 8000)
  }

  test("column pruning reaches the scan (id-only projection)") {
    val df = spark.read.format("binaryPoints").option("path", T4).load()
      .select("id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint>")
      || !plan.contains("features"), s"pruning missing in:\n$plan")
    assert(df.count() == 8000)
    // aggregation over the pruned scan
    val mx = df.agg(max("id")).collect()(0).getLong(0)
    assert(mx == 7999)
  }
}
