package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // shared session: never stop per-suite

  /** Run `f` with `spark.sql.shuffle.partitions` set to `n`. */
  protected def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Spark jobs `f` starts, counted by a listener. */
  protected def jobsOf(f: => Any): Int = jobsByDesc(f).values.sum

  /** Spark jobs `f` starts, counted by job description (`""` for a job
    * without one). */
  protected def jobsByDesc(f: => Any): Map[String, Int] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try f finally {
      Thread.sleep(500) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
    }
    descs.toArray(Array.empty[String]).groupBy(identity)
      .map { case (d, ds) => d -> ds.length }
  }

  /** The RDDs `f` leaves persisted that were not before. */
  protected def persistedBy(f: => Any): Seq[org.apache.spark.rdd.RDD[_]] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    f
    spark.sparkContext.getPersistentRDDs.toSeq
      .collect { case (id, rdd) if !before(id) => rdd }
  }
}

object SparkSpec {
  /** The reference's 2-D dataset t4.8k (8000×2), committed byte-identical
    * (FIXTURES.md §4c); relative to the project root, the test JVM's
    * working directory. */
  val T4Bin = "fixtures/t4.8k.bin"

  /** Built by `Sessions.start`, so specs run under the same session
    * configuration as Bench and Verify. */
  lazy val session: SparkSession = Sessions.start("local[4]", 8)
}
