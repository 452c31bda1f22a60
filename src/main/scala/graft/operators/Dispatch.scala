package graft.operators

import org.apache.spark.sql.DataFrame

/** The size probe of a fused-or-distributed dispatch: every input one
  * decision reads is counted, each only up to its cap, in ONE Spark job
  * described `"<op>: size probe"`. Each partition stops scanning at
  * cap + 1 rows, so deciding never counts a 100 TB table, and no column
  * is projected. Under AQE an input whose plan holds an exchange runs
  * its shuffle stages as jobs of their own first, so dispatchers probe
  * the exchange-free inputs and derive the rest where they can.
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

  /** Whether every input holds at most its cap rows ([[counts]]). */
  def fits(op: String, inputs: (DataFrame, Long)*): Boolean =
    counts(op, inputs: _*).zip(inputs).forall { case (n, (_, cap)) =>
      n <= cap
    }
}
