package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. At [[DefaultSeed]] `points` and `embeddings`
  * are bit-identical to `Workloads.synthPoints` / `synthEmbeddings`, so
  * the digests recorded for those generators apply; any other seed salts
  * every hash tag, which gives an unrelated draw of the same shape. */
object Inputs {
  val DefaultSeed = 0L

  private def tag(s: String, seed: Long): Column =
    lit(if (seed == DefaultSeed) s else s"$s~$seed")

  private def u01(c: Column): Column =
    pmod(xxhash64(c), lit(1000000L)).cast("double") / lit(1000000.0)

  /** `k` blobs uniform in [0,100]^dims, each point within ±3 per dim of
    * its blob centre, 5 % noise uniform in the cube: (`id`, `features`). */
  def points(spark: SparkSession, n: Long, k: Int, dims: Int,
      seed: Long): DataFrame = {
    val id = col("id")
    val cluster = pmod(xxhash64(id, tag("c", seed)), lit(k.toLong))
    val isNoise = u01(concat(id.cast("string"), tag("n", seed))) < lit(0.05)
    val feats = array((0 until dims).map { d =>
      val center = u01(concat(cluster.cast("string"), tag(s"#$d", seed))) *
        100.0
      val off = (u01(concat(id.cast("string"), tag(s"@$d", seed))) - 0.5) *
        6.0
      val noiseCoord = u01(concat(id.cast("string"), tag(s"!$d", seed))) *
        100.0
      when(isNoise, noiseCoord).otherwise(center + off).cast("float")
    }: _*)
    spark.range(n).select(id, feats.as("features"))
  }

  /** `k` cluster directions uniform in [0,1]^dims, each vector within
    * ±0.05 per dim of its direction: (`vec_id`, `embedding`). */
  def embeddings(spark: SparkSession, n: Long, dims: Int, k: Int,
      seed: Long): DataFrame = {
    val id = col("id")
    val cluster = pmod(xxhash64(id, tag("c", seed)), lit(k.toLong))
    val feats = array((0 until dims).map { d =>
      val center = u01(concat(cluster.cast("string"), tag(s"#$d", seed)))
      val off = (u01(concat(id.cast("string"), tag(s"@$d", seed))) - 0.5) *
        0.1
      (center + off).cast("float")
    }: _*)
    spark.range(n).select(id.as("vec_id"), feats.as("embedding"))
  }

  /** Writes a `lineitem` table with the columns the graph queries read:
    * supplier and part keys in sf0.1's suppliers:parts:rows ratio
    * (1 : 20 : 600), and a price. Returns rows written. */
  def writeLineitems(spark: SparkSession, path: String, rows: Long,
      seed: Long): Long = {
    val id = col("id")
    val supps = math.max(rows / 600, 10L)
    val parts = math.max(rows / 30, 10L)
    spark.range(rows).select(
        pmod(xxhash64(id, tag("s", seed)), lit(supps)).as("l_suppkey"),
        pmod(xxhash64(id, tag("p", seed)), lit(parts)).as("l_partkey"),
        round(lit(900.0) + u01(concat(id.cast("string"), tag("x", seed))) *
          104000.0, 2).as("l_extendedprice"))
      .write.mode("overwrite").parquet(path)
    rows
  }
}
