package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The state kernel of [[IncrementalDbscan]] and its fused single-task
  * build (the [[Dbscan]] `runLocal` / [[GraphAnnLocal]] discipline).
  * [[stateFacts]] runs once over the whole corpus here, and once per
  * touched tile in the distributed fold.
  *
  * WHY a fused build: each distributed fold (init / addPoints /
  * removePoints) runs a range pass, a tile-fit pass, a touched-set
  * pass, the tile shuffle, a CC loop and per-table pins, which on the
  * bench's small standing states is pure local-mode orchestration
  * floor.
  *
  * WHAT MAKES IT SOUND: all four state tables are PURE FUNCTIONS of the
  * surviving corpus under the documented contracts —
  *  - `counts`: ε-neighbor counts excluding self, rows only for n ≥ 1;
  *  - `coreComp`: min-id connected components of the core-core ε-graph
  *    (self-loops ⇒ isolated cores are singletons);
  *  - `borderPairs`: every (non-core, core) ε-pair;
  *  - `points`: the corpus itself.
  * The distributed fold maintains exactly these invariants (that is how
  * [[IncrementalDbscan.labels]] stays spec-identical to a from-scratch
  * [[Dbscan.run]]), and both builds take every value from the same
  * kernel: an id, a count or a min id from [[LocalDbscan]], whose only
  * float work is the same left-to-right double ε fold. So the one-task
  * rebuild is bit-identical to the distributed fold whatever the
  * tiling. IncrementalDbscanLocalSpec pins fused == forced-distributed
  * table by table, with and without bucket dims; q164/q231/q235 stay
  * oracle-gated.
  *
  * SCALE HONESTY: probe-guarded (limit-count, stops early on big
  * inputs), threshold parameterised (`graft.incrDbscan.localThreshold`
  * sys-prop, default 20k points, 0 disables). The kernel searches
  * neighbors on the `bucketDims` ε-grid (3^k cells per point); with no
  * bucket dims it is a brute-force n² scan, so the default also caps
  * the task's work at ~4·10⁸ distance folds. The 500k scale
  * diagnostics and the parity tools keep exercising the distributed
  * fold. */
private[graft] object IncrDbscanLocal {

  def defaultThreshold: Long =
    sys.props.get("graft.incrDbscan.localThreshold").map(_.toLong)
      .getOrElse(20_000L)

  /** What the state kernel reports: `(tag, id, aux)`. */
  private[operators] type Fact = (Byte, Long, Long)
  /** every owner: its ε-neighbor count `n`, self excluded (n may be 0) */
  private[operators] final val Count: Byte = 1
  /** an owned core: its local component (min core id) */
  private[operators] final val Core: Byte = 2
  /** an owned non-core: one core neighbor's id */
  private[operators] final val Border: Byte = 3
  /** a non-owned core in the local component of an owned core: that
    * component */
  private[operators] final val Link: Byte = 4

  /** The state kernel: runs [[LocalDbscan]] over every row and reports
    * the `owned` rows' state facts, plus a `Link` for each non-owned
    * core whose local component holds an owned core. The fused build
    * owns every row; a tile of [[IncrementalDbscan]]'s distributed
    * fold owns its owners, and its ghosts are the rest. */
  private[operators] def stateFacts(ids: Array[Long],
      vecs: Array[Array[Float]], owned: Array[Boolean], eps: Double,
      minPts: Int, bucketDims: Array[Int]): Iterator[Fact] = {
    val kern = new LocalDbscan(ids, vecs, eps, minPts, bucketDims)
    val n = kern.n
    // border pairs: every (non-core, core) ε-pair
    val borders = new Array[Array[Long]](n)
    InTask.parallelFor(n) { p =>
      if (owned(p) && !kern.isCore(p)) {
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        kern.forEachCoreNeighbor(p)(q => buf += ids(q))
        borders(p) = buf.result()
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[Fact](3 * n)
    val used = scala.collection.mutable.LongMap.empty[Unit]
    var i = 0
    while (i < n) {
      if (owned(i)) {
        out += ((Count, ids(i), kern.counts(i).toLong))
        if (kern.isCore(i)) {
          out += ((Core, ids(i), kern.comp(i)))
          used(kern.comp(i)) = ()
        } else borders(i).foreach(c => out += ((Border, ids(i), c)))
      }
      i += 1
    }
    i = 0
    while (i < n) {
      val c = kern.comp(i)
      if (!owned(i) && kern.isCore(i) && ids(i) != c && used.contains(c))
        out += ((Link, ids(i), c))
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
    val rdd = in.coalesce(1).rdd.mapPartitions { it =>
      val idsB = new scala.collection.mutable.ArrayBuffer[Long]
      val vecsB = new scala.collection.mutable.ArrayBuffer[Array[Float]]
      val rm = new java.util.HashSet[java.lang.Long]
      it.foreach { r =>
        if (r.getInt(0) == 0) {
          idsB += r.getLong(1); vecsB += r.getSeq[Float](3).toArray
        } else rm.add(r.getLong(1))
      }
      // apply the removal set (ids not present are ignored — the
      // removePoints contract)
      val keep = idsB.indices.filter(i => !rm.contains(idsB(i)))
      val ids = keep.map(idsB(_)).toArray
      val vecs = keep.map(vecsB(_)).toArray
      ids.indices.iterator.map(i => Row(0, ids(i), null, vecs(i).toSeq)) ++
        stateFacts(ids, vecs, Array.fill(ids.length)(true), eps, minPts,
          dimsArr).map(f => Row(f._1.toInt, f._2, f._3, null))
    }
    val tagged = spark.createDataFrame(rdd, TaggedSchema).localCheckpoint()
    IncrementalDbscan.State(
      tagged.filter(col("tag") === 0).select(col("id"), col("vec")),
      tagged.filter(col("tag") === Count.toInt && col("aux") > 0)
        .select(col("id"), col("aux").as("n")),
      tagged.filter(col("tag") === Core.toInt)
        .select(col("id"), col("aux").as("comp")),
      tagged.filter(col("tag") === Border.toInt)
        .select(col("id"), col("aux").as("core_id")))
  }
}
