package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Stable global row numbers at scale — the sharding/sampling backbone of
  * a training-data pipeline (deterministic example ids, round-robin shard
  * assignment, skip-free resume). The naive formulation,
  * `row_number().over(Window.orderBy(key))`, collapses the whole table
  * into ONE partition (an `Exchange SinglePartition`) — the canonical
  * Spark scale anti-pattern. This operator produces the identical
  * numbering with a two-pass partition-offset scheme, the distributed
  * classic the reference also uses for its global ids
  * (`start_pos[rank] = Σ point_count[<rank]`, dbscan.cpp:656-661):
  *
  *  1. range-shuffle on the sort key (`repartitionByRange` samples
  *     boundaries, so partitions are balanced) and sort within partitions;
  *  2. count rows per partition — only one long per partition reaches the
  *     driver, never row data;
  *  3. assign `row_num = offset(partition) + local position` narrowly in
  *     `mapPartitionsWithIndex`.
  *
  * Both passes run over the SAME RDD lineage (the `RDD.zipWithIndex`
  * pattern): the range partitioner is sampled once and fixed in the RDD
  * object, and pass 2 reuses pass 1's shuffle map outputs — consistent
  * partitioning with no cache entry left behind.
  */
object GlobalIndex {

  /** Append a 1-based global row number ordered by `sortCols`.
    *
    * `sortCols` must be a total order (include a unique tie-breaker id):
    * range partitioning keeps equal keys in one partition, but their
    * relative order within it — and therefore their numbers — would not be
    * reproducible across runs.
    *
    * NOTE: like `RDD.zipWithIndex`, the counting pass runs EAGERLY when
    * this is called (one Spark job over the shuffled input; the shuffle
    * itself is then reused by the returned plan, not recomputed).
    *
    * @param numPartitions range-partition count; defaults to
    *   `spark.sql.shuffle.partitions`. Size it so partitions fit executor
    *   memory at the target scale, like any other shuffle. */
  def rowNumbers(df: DataFrame, sortCols: Seq[String],
      outCol: String = "row_num", numPartitions: Option[Int] = None): DataFrame = {
    require(sortCols.nonEmpty, "rowNumbers needs at least one sort column")
    require(!df.columns.exists(_.equalsIgnoreCase(outCol)),
      s"input already has a column named $outCol — rename it first, " +
        "rowNumbers appends its own")
    val keys = sortCols.map(col)
    val ranged = numPartitions match {
      case Some(np) => df.repartitionByRange(np, keys: _*)
      case None     => df.repartitionByRange(keys: _*)
    }
    val sorted = ranged.sortWithinPartitions(keys: _*)
    // ONE RDD object for both passes: its range partitioner (sampled
    // boundaries) is fixed at materialization, and the assignment pass
    // reuses the counting pass's shuffle files — unlike re-planning the
    // Dataset twice, which would re-sample boundaries and could disagree.
    // zipWithIndex IS the two-pass scheme (eager per-partition count job,
    // then narrow offset+local assignment).
    val out = sorted.rdd.zipWithIndex().mapPartitions(
      _.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
      preservesPartitioning = true)
    df.sparkSession.createDataFrame(out,
      sorted.schema.add(StructField(outCol, LongType, nullable = false)))
  }
}
