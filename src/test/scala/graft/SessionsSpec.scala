package graft

class SessionsSpec extends SparkSpec {

  test("the shared session is Sessions.start's configuration") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.sparkContext.master == "local[4]")
  }
}
