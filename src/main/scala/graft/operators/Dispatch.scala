package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import scala.collection.mutable
import scala.reflect.ClassTag

/** The size probe of a fused-or-distributed dispatch: every input one
  * decision reads is counted, each only up to its cap, in ONE Spark job
  * described `"<op>: size probe"`. Each partition stops scanning at
  * cap + 1 rows, so deciding never counts a 100 TB table, and no column
  * is projected. Under AQE an input whose plan holds an exchange runs
  * its shuffle stages as jobs of their own first, so dispatchers probe
  * the exchange-free inputs and derive the rest where they can.
  * [[gather]] is the probe of a driver finish: the same one job also
  * brings the rows to the driver when they fit.
  */
private[graft] object Dispatch {

  /** Each input's row count: exact at or below its cap, cap + 1 above
    * it (`Long.MaxValue` when the cap is `Long.MaxValue` — count all).
    * @param inputs (table, cap) pairs; a cap is >= 0. */
  def counts(op: String, inputs: (DataFrame, Long)*): Array[Long] = {
    val stops = inputs.map { case (_, cap) =>
      require(cap >= 0, s"$op: negative probe cap $cap")
      if (cap == Long.MaxValue) cap else cap + 1
    }
    val sc = inputs.head._1.sparkSession.sparkContext
    ConnectedComponents.withJobDesc(sc, s"$op: size probe") {
      val perPartition = inputs.zip(stops).zipWithIndex.map {
        case (((df, _), stop), i) =>
          df.select().queryExecution.toRdd.mapPartitions { it =>
            var c = 0L
            while (c < stop && it.hasNext) { it.next(); c += 1 }
            Iterator.single((i, c))
          }
      }
      val n = new Array[Long](inputs.length)
      sc.union(perPartition).collect().foreach { case (i, c) =>
        n(i) = if (c >= stops(i) - n(i)) stops(i) else n(i) + c
      }
      n
    }
  }

  /** Every row of `rdd` at the driver, gathered in ONE job described
    * `desc`, when each partition holds at most its share of `cap`
    * (cap ÷ partitions, rounded down); None when one holds more. Each
    * partition stops reading at its share + 1 rows, so the driver never
    * buffers more than `cap` rows. A persisted `rdd` is still cached
    * whole by this job. */
  def gather[T: ClassTag](rdd: RDD[T], desc: String,
      cap: Long): Option[Array[T]] = {
    require(cap >= 0, s"$desc: negative gather cap $cap")
    val share = cap / math.max(1, rdd.getNumPartitions)
    val parts = ConnectedComponents.withJobDesc(rdd.sparkContext, desc) {
      rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => {
        val buf = mutable.ArrayBuffer.empty[T]
        while (buf.length <= share && it.hasNext) buf += it.next()
        if (buf.length > share) None else Some(buf.toArray)
      })
    }
    if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
  }

  /** Whether every input holds at most its cap rows ([[counts]]). */
  def fits(op: String, inputs: (DataFrame, Long)*): Boolean =
    counts(op, inputs: _*).zip(inputs).forall { case (n, (_, cap)) =>
      n <= cap
    }
}
