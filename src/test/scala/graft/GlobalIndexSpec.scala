package graft

import graft.operators.GlobalIndex
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GlobalIndexSpec extends SparkSpec {

  // a keyed table whose sort order is a nontrivial permutation of ids
  private def keyed(nParts: Int) =
    spark.range(0, 1000).toDF("id")
      .repartition(nParts)
      .select(col("id"), md5(col("id").cast("string")).as("k"))

  test("rowNumbers == global window row_number, without the anti-pattern") {
    val df = keyed(7)
    val got = GlobalIndex.rowNumbers(df, Seq("k", "id"))
      .select("id", "row_num").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("row_num",
        row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
      .select("id", "row_num").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("rowNumbers is invariant to input partitioning") {
    val a = GlobalIndex.rowNumbers(keyed(2), Seq("k", "id"))
      .select("id", "row_num").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GlobalIndex.rowNumbers(keyed(13), Seq("k", "id"))
      .select("id", "row_num").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("rowNumbers plan has no single-partition exchange and no Window") {
    val out = GlobalIndex.rowNumbers(keyed(5), Seq("k", "id"))
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global sort collapsed to one partition:\n$p")
    assert(!p.contains("Window"), s"window crept back in:\n$p")
    // ids are assembled narrowly over the range-shuffled RDD (zipWithIndex
    // pattern) — the returned plan reads that RDD, it does not re-sort
    assert(p.contains("ExistingRDD"), s"expected partition-offset RDD:\n$p")
  }

  test("rowNumbers leaves nothing in the cache manager") {
    // the two passes must share shuffle files, not a persisted Dataset —
    // an internal persist would leak blocks for the caller's lifetime.
    // (clearCache first: the session is shared across suites, and cost,
    // not correctness, is all other suites' lazy persists lose here.)
    spark.catalog.clearCache()
    GlobalIndex.rowNumbers(keyed(5), Seq("k", "id")).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "rowNumbers left a cached plan behind")
  }

  test("rowNumbers handles empty input and explicit partition counts") {
    val empty = spark.range(0, 0).toDF("id")
      .select(col("id"), md5(col("id").cast("string")).as("k"))
    assert(GlobalIndex.rowNumbers(empty, Seq("k", "id")).count() == 0)
    val got = GlobalIndex.rowNumbers(keyed(3), Seq("k", "id"),
        numPartitions = Some(64)) // more partitions than rows per range is fine
      .agg(min("row_num"), max("row_num"), count(lit(1))).collect()(0)
    assert(got.getLong(0) == 1L && got.getLong(1) == 1000L &&
      got.getLong(2) == 1000L)
    // a pre-existing outCol (any case) is rejected, not silently duplicated
    assertThrows[IllegalArgumentException] {
      GlobalIndex.rowNumbers(keyed(3).withColumn("ROW_NUM", lit(0L)),
        Seq("k", "id"))
    }
  }
}
