package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One small local session shared by the benchmark's Spark specs. */
object BenchSparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

trait BenchSparkSpec extends AnyFunSuite {
  def spark: SparkSession = BenchSparkSpec.spark
}
