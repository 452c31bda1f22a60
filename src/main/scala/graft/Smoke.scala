package graft

/** Replicates the driver's t1 smoke: run SparkEntry.entry and assert
  * rows > 0. Usage: `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.start(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]", 8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
