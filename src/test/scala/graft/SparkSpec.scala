package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // shared session: never stop per-suite
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
