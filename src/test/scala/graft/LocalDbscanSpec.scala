package graft

import graft.operators.{Dbscan, InTask, IncrementalDbscan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared in-task loop and the DBSCAN kernel's preconditions:
  * `InTask.parallelFor` covers every index once and surfaces worker
  * failures; both fused DBSCAN paths and the tile path refuse duplicate
  * ids, label null vectors noise, and agree on negative ids. */
class LocalDbscanSpec extends SparkSpec {

  private val Totals = Seq(0, 1, InTask.SerialCutoff - 1,
    InTask.SerialCutoff, 10 * InTask.SerialCutoff + 17)

  test("parallelFor runs every index exactly once, below and above the " +
      "serial cutoff") {
    Totals.foreach { total =>
      val hits = new java.util.concurrent.atomic.AtomicIntegerArray(total)
      InTask.parallelFor(total)(i => hits.incrementAndGet(i))
      assert((0 until total).forall(hits.get(_) == 1), s"total=$total")
    }
  }

  test("parallelFor rethrows a body exception on the calling thread") {
    Totals.filter(_ > 0).foreach { total =>
      val e = intercept[IllegalStateException] {
        InTask.parallelFor(total) { i =>
          if (i == total - 1) throw new IllegalStateException(s"boom $i")
        }
      }
      assert(e.getMessage == s"boom ${total - 1}", s"total=$total")
    }
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("a duplicated id fails on both fused DBSCAN paths") {
    import spark.implicits._
    val dup = Seq(1L -> Seq(0f, 0f), 2L -> Seq(0.5f, 0f), 2L -> Seq(9f, 9f),
      3L -> Seq(0f, 0.5f)).toDF("id", "vec")
    val paths: Seq[(String, DataFrame => Any)] = Seq(
      "Dbscan.run" ->
        (df => Dbscan.run(df, "id", "vec", 1.0, 2, Nil).collect()),
      // the copies of id 2 are ~12ε apart: different tiles, no kernel
      // sees both, so the merge has to catch them
      "Dbscan.run, tile path" ->
        (df => Dbscan.run(df, "id", "vec", 1.0, 2, Nil, localThreshold = 0L)
          .collect()),
      "IncrementalDbscan.init" ->
        (df => IncrementalDbscan.init(df, "id", "vec", 1.0, 2, Nil)
          .coreComp.collect()))
    paths.foreach { case (name, path) =>
      val e = intercept[Exception](path(dup))
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("unique point ids")), s"$name: $e")
    }
  }

  test("a null vector is noise on the fused and the tile path") {
    import spark.implicits._
    val pts = Seq(1L -> Some(Seq(0f, 0f)), 2L -> None,
      3L -> Some(Seq(0.5f, 0f)), 4L -> Some(Seq(0f, 0.5f)), 5L -> None,
      6L -> Some(Seq(9f, 9f))).toDF("id", "vec")
    val want = Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 0, 6L -> 0)
    Seq("fused" -> 100_000L, "tile path" -> 0L).foreach {
      case (name, threshold) =>
        val got = Dbscan.run(pts, "id", "vec", 1.0, 2, Seq(0, 1),
            localThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == want, name)
    }
  }

  test("negative ids: fused labels == distributed labels") {
    val pts = Workloads.synthPoints(spark, 1500, k = 3, dims = 2)
      .select((col("id") - 1000L).as("id"), col("features")).persist()
    def labels(threshold: Long) =
      Dbscan.run(pts, "id", "features", 1.0, 5, Seq(0, 1),
        localThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fused = labels(100_000L)
    assert(fused == labels(0L))
    assert(fused.values.exists(_ > 0), "degenerate fixture: no clusters")
    pts.unpersist()
  }
}
