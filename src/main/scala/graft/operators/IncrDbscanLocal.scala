package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fused single-task twin of [[IncrementalDbscan]]'s state builds (the
  * [[Dbscan]] `runLocal` / [[GraphAnnLocal]] discipline).
  *
  * WHY: each fold (init / addPoints / removePoints) of the distributed
  * path runs 30-100 Spark jobs — ε-join machinery, CC loops, per-table
  * pins — which on the bench's small standing states is pure local-mode
  * orchestration floor (measured round 11: q231 92 jobs / q235 103 jobs
  * / q164 71 jobs on 2,000 points).
  *
  * WHAT MAKES IT SOUND: all four state tables are PURE FUNCTIONS of the
  * surviving corpus under the documented contracts —
  *  - `counts`: ε-neighbor counts excluding self, rows only for n ≥ 1;
  *  - `coreComp`: min-id connected components of the core-core ε-graph
  *    (self-loops ⇒ isolated cores are singletons);
  *  - `borderPairs`: every (non-core, core) ε-pair;
  *  - `points`: the corpus itself.
  * The incremental dataflows maintain exactly these invariants (that is
  * how [[IncrementalDbscan.labels]] stays spec-identical to a
  * from-scratch [[Dbscan.run]]), so a from-scratch one-task rebuild of
  * the four tables is bit-identical to the distributed fold: every
  * value is an id, a count or a min id from the shared [[LocalDbscan]]
  * kernel, whose only float work is the same left-to-right double ε
  * fold. IncrementalDbscanLocalSpec pins fused == forced-distributed
  * table by table, with and without bucket dims; q164/q231/q235 stay
  * oracle-gated.
  *
  * SCALE HONESTY: probe-guarded (limit-count, stops early on big
  * inputs), threshold parameterised (`graft.incrDbscan.localThreshold`
  * sys-prop, default 20k points, 0 disables). The kernel searches
  * neighbors on the same `bucketDims` ε-grid as the distributed
  * `EpsilonJoin` (3^k cells per point); with no bucket dims it is a
  * brute-force n² scan, so the default also caps the task's work at
  * ~4·10⁸ distance folds. The 500k scale diagnostics and the parity
  * tools keep exercising the distributed machinery. */
private[graft] object IncrDbscanLocal {

  def defaultThreshold: Long =
    sys.props.get("graft.incrDbscan.localThreshold").map(_.toLong)
      .getOrElse(20_000L)

  /** All four state tables from one task over the tagged input
    * (0 = corpus point, 1 = removed id). Emits a tagged union row set:
    * 0 = point (id, vec), 1 = count (id, aux = n), 2 = coreComp
    * (id, aux = comp), 3 = borderPair (id, aux = core_id). */
  private[operators] def stateRows(rows: Iterator[Row], eps: Double,
      minPts: Int, bucketDims: Array[Int]): Iterator[Row] = {
    val idsB = new scala.collection.mutable.ArrayBuffer[Long]
    val vecsB = new scala.collection.mutable.ArrayBuffer[Array[Float]]
    val rm = new java.util.HashSet[java.lang.Long]
    rows.foreach { r =>
      if (r.getInt(0) == 0) {
        idsB += r.getLong(1); vecsB += r.getSeq[Float](3).toArray
      } else rm.add(r.getLong(1))
    }
    // apply the removal set (ids not present are ignored — the
    // removePoints contract)
    val keep = (0 until idsB.length).filter(i => !rm.contains(idsB(i)))
    val ids = keep.map(idsB(_)).toArray
    val vecs = keep.map(vecsB(_)).toArray
    val kern = new LocalDbscan(ids, vecs, eps, minPts, bucketDims)
    val n = kern.n
    // border pairs: every (non-core, core) ε-pair
    val borders = new Array[Array[Long]](n)
    InTask.parallelFor(n) { p =>
      if (!kern.isCore(p)) {
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        kern.forEachCoreNeighbor(p)(q => buf += ids(q))
        borders(p) = buf.result()
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[Row](4 * n)
    var i = 0
    while (i < n) {
      out += Row(0, ids(i), null, vecs(i).toSeq)
      if (kern.counts(i) >= 1)
        out += Row(1, ids(i), kern.counts(i).toLong, null)
      if (kern.isCore(i)) out += Row(2, ids(i), kern.comp(i), null)
      else borders(i).foreach(c => out += Row(3, ids(i), c, null))
      i += 1
    }
    out.iterator
  }

  private val TaggedSchema = StructType(Seq(
    StructField("tag", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("aux", LongType, nullable = true),
    StructField("vec", ArrayType(FloatType), nullable = true)))

  /** Build the full state in one task. `removeIds` (if any) subtract
    * in-task — no join stages. Returns the four tables as tag-filtered
    * views over ONE localCheckpoint'd tagged row set (the task runs
    * once; the views are narrow). */
  def stateFused(pts: DataFrame, removeIds: Option[DataFrame],
      eps: Double, minPts: Int,
      bucketDims: Seq[Int]): IncrementalDbscan.State = {
    val dimsArr = bucketDims.toArray
    val spark = pts.sparkSession
    val nullAux = lit(null).cast("long")
    val nullVec = lit(null).cast("array<float>")
    var in = pts.select(lit(0).as("tag"), col("id"), nullAux.as("aux"),
      col("vec"))
    removeIds.foreach { rm =>
      in = in.unionAll(rm.select(lit(1).as("tag"),
        col("id").cast("long").as("id"), nullAux.as("aux"),
        nullVec.as("vec")))
    }
    val rdd = in.coalesce(1).rdd.mapPartitions(it =>
      stateRows(it.map(r => Row(r.getInt(0), r.getLong(1), null,
        if (r.isNullAt(3)) null else r.getSeq[Float](3))), eps, minPts,
      dimsArr))
    val tagged = spark.createDataFrame(rdd, TaggedSchema).localCheckpoint()
    IncrementalDbscan.State(
      tagged.filter(col("tag") === 0).select(col("id"), col("vec")),
      tagged.filter(col("tag") === 1)
        .select(col("id"), col("aux").as("n")),
      tagged.filter(col("tag") === 2)
        .select(col("id"), col("aux").as("comp")),
      tagged.filter(col("tag") === 3)
        .select(col("id"), col("aux").as("core_id")))
  }
}
