package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every main and the spec harness run
  * under, so a plan or a row count never depends on which main built
  * the session. */
object Sessions {

  /** `getOrCreate` a session on `master` with `shufflePartitions`:
    * UI off, UTC session time zone, WARN logging, and parquet
    * TIMESTAMP(NANOS) read as long (`SparkEntry.eventMs` converts every
    * variant). Under `local-cluster[...]` the forked executors get 4g
    * and the compiled graft classes on their classpath — they see only
    * the Spark dist jars (same filesystem; a real cluster ships
    * `spark.jars`), and need SPARK_HOME plus SPARK_SCALA_VERSION=2.13
    * for the executor launcher. */
  def start(master: String, shufflePartitions: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = (if (master.startsWith("local-cluster"))
        b.config("spark.executor.memory", "4g")
          .config("spark.executor.extraClassPath", new java.io.File(
            getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
            .getPath)
      else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
